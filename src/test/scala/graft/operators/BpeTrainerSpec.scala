package graft.operators

import graft.SparkSpec

class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  test("wordFrequencies is the one corpus pass: counts whitespace tokens") {
    val docs = Seq("low low lower", "newest low").toDF("text")
    val wf = BpeTrainer.wordFrequencies(docs).as[(String, Long)]
      .collect().toMap
    wf shouldBe Map("low" -> 3L, "lower" -> 1L, "newest" -> 1L)
  }
}
