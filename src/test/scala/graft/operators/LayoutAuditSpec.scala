package graft.operators

import java.nio.file.Files

import graft.SparkSpec

class LayoutAuditSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("audit reads footer stats: rows, bytes, min/max per row group") {
    val dir = tmp("audit")
    (0L until 1000L).map(i => (i, i.toDouble / 10, s"s$i"))
      .toDF("id", "score", "name")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val stats = LayoutAudit.audit(spark, dir, Seq("id", "score")).collect()
    stats should not be empty
    // every (file, group) carries both requested columns
    stats.groupBy(s => (s.file, s.row_group)).foreach { case (_, g) =>
      g.map(_.column).toSet shouldBe Set("id", "score")
    }
    // long stats land in the long fields, double in the double fields
    val idStats = stats.filter(_.column == "id")
    idStats.foreach { s =>
      s.min_long.isDefined shouldBe true
      s.min_double shouldBe None
      s.n_rows should be > 0L
      s.compressed_bytes should be > 0L
    }
    idStats.map(_.min_long.get).min shouldBe 0L
    idStats.map(_.max_long.get).max shouldBe 999L
    val scoreStats = stats.filter(_.column == "score")
    scoreStats.foreach(_.min_double.isDefined shouldBe true)
    scoreStats.map(_.max_double.get).max shouldBe 99.9
  }

  test("empty dir fails loudly") {
    val dir = tmp("audit-empty")
    an[IllegalArgumentException] should be thrownBy
      LayoutAudit.audit(spark, dir, Seq("x"))
  }
}
