package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

import graft.SparkSpec

/** T169 — compressibility quality signal: the DEFLATE ratio separates
  * repetitive boilerplate from natural text from incompressible junk,
  * deterministically, with the documented null contract. */
class DeflateRatioSpec extends SparkSpec {
  import spark.implicits._

  private def ratioOf(text: Column): Column =
    CatalystBridge.column(DeflateRatio(CatalystBridge.expr(text)))

  private val repetitive = "lorem ipsum " * 400
  private val natural =
    """The quality of a training corpus is not decided by any single
      |signal: length bands, stopword evidence, model perplexity and
      |compressibility each catch a different failure mode, and the
      |production pipelines that matter run them all, in one pass,
      |with thresholds calibrated on a labeled sample rather than
      |folklore.""".stripMargin * 3
  private val junk = (0 until 200)
    .map(i => graft.plans.StableHash60
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(s"j$i"))
      .toHexString).mkString(" ")

  test("signal separation: boilerplate << natural << junk") {
    val got = Seq((1L, repetitive), (2L, natural), (3L, junk))
      .toDF("id", "t")
      .select($"id", ratioOf($"t").as("r"))
      .as[(Long, Double)].collect().toMap
    got(1L) should be < 0.1 // 400 identical phrases: near-total collapse
    got(1L) should be < got(2L)
    got(2L) should be < got(3L)
    got(3L) should be > 0.5 // hex noise barely compresses
  }

  test("deterministic across layouts and equal to the driver-side kernel") {
    val rows = (0 until 97).map(i =>
      (i.toLong, s"doc $i " + ("the quick brown fox " * (i % 7 + 1))))
    val expect = rows.map { case (id, t) =>
      id -> DeflateRatio.ratio(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).doubleValue()
    }.toMap
    Seq(1, 7).foreach { parts =>
      val got = rows.toDF("id", "t").repartition(parts)
        .select($"id", ratioOf($"t").as("r"))
        .as[(Long, Double)].collect().toMap
      got shouldBe expect
    }
  }

  test("null contract and type reject") {
    val got = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "x"))
      .toDF("id", "t")
      .select($"id", ratioOf($"t").as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    got(1L) shouldBe None // empty: 0/0 has no meaning
    got(2L) shouldBe None
    got(3L).isDefined shouldBe true
    // analysis-time type reject (SQL registration is round-tripped in
    // GraftExtensionsSpec — the shared test session carries no
    // extensions)
    an[Exception] should be thrownBy
      Seq(1).toDF("i").select(ratioOf($"i")).collect()
  }

  test("interpreted eval matches codegen") {
    val df = Seq((1L, natural), (2L, repetitive)).toDF("id", "t")
    val expr = ratioOf($"t").as("r")
    val on = df.select($"id", expr).as[(Long, Double)].collect().toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = df.select($"id", expr).as[(Long, Double)].collect().toMap
      off shouldBe on
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
