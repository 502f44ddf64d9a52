package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("mediaFromDocuments wraps text as binary payloads with metadata") {
    implicit val s = spark
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val got = Multimodal.mediaFromDocuments(docs).collect().head
    got.media_id shouldBe 1L
    got.payload shouldBe "hello".getBytes("UTF-8")
    got.kind shouldBe "image"
  }
}
