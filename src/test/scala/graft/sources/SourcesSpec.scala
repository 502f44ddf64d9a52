package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  // ---- watermark store --------------------------------------------------

  test("WatermarkStore round-trips keys and survives re-open") {
    val path = Files.createTempDirectory("wm").resolve("state.properties")
    val store = new WatermarkStore(path)
    store.get("k") shouldBe None
    store.getOrElse("k", "epoch") shouldBe "epoch"
    store.set("k", "2024-01-01 00:00:00")
    store.set("other", "x")
    new WatermarkStore(path).get("k") shouldBe Some("2024-01-01 00:00:00")
    new WatermarkStore(path).get("other") shouldBe Some("x")
  }

  // ---- JDBC against embedded Derby --------------------------------------

  private val jdbcUrl = "jdbc:derby:memory:graftdb;create=true"

  test("Jdbc append + scan round-trip (Derby)") {
    val df = Seq((1L, "a", "2024-01-01 10:00:00"), (2L, "b", "2024-01-02 10:00:00"))
      .toDF("id", "name", "ingested_at")
    Jdbc.append(df, jdbcUrl, "t_roundtrip")
    val back = Jdbc.scan(spark, jdbcUrl, "t_roundtrip")
    back.count() shouldBe 2
    back.orderBy("id").select("name").as[String].collect() shouldBe Array("a", "b")
  }

  test("incremental scan pushes the watermark predicate into the DB and advances it") {
    val store = new WatermarkStore(
      Files.createTempDirectory("wm2").resolve("state.properties"))
    // Pre-create with VARCHAR: Derby maps Spark StringType to CLOB,
    // which Derby refuses to compare; a real warehouse (the pushdown
    // target) uses comparable text/timestamp columns.
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    conn.createStatement().execute(
      "CREATE TABLE T_INCR (ID BIGINT, INGESTED_AT VARCHAR(32))")
    conn.close()
    val batch1 = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"))
      .toDF("ID", "INGESTED_AT")
    Jdbc.append(batch1, jdbcUrl, "T_INCR")

    // Bootstrap: no watermark → everything.
    val first = Jdbc.incrementalScan(spark, jdbcUrl, "T_INCR", "INGESTED_AT",
      store, "t_incr", epochWatermark = "1970-01-01 00:00:00")
    first.count() shouldBe 2
    Jdbc.recordWatermark(first, "INGESTED_AT", store, "t_incr")
    store.get("t_incr") shouldBe Some("2024-01-02 10:00:00")

    // Second batch: only rows past the stored watermark come back.
    Jdbc.append(Seq((3L, "2024-01-03 10:00:00")).toDF("ID", "INGESTED_AT"),
      jdbcUrl, "T_INCR")
    val second = Jdbc.incrementalScan(spark, jdbcUrl, "T_INCR", "INGESTED_AT",
      store, "t_incr")
    second.select("ID").as[Long].collect() shouldBe Array(3L)
    Jdbc.recordWatermark(second, "INGESTED_AT", store, "t_incr")
    store.get("t_incr") shouldBe Some("2024-01-03 10:00:00")

    // Empty delta: watermark must not regress.
    val third = Jdbc.incrementalScan(spark, jdbcUrl, "T_INCR", "INGESTED_AT",
      store, "t_incr")
    third.count() shouldBe 0
    Jdbc.recordWatermark(third, "INGESTED_AT", store, "t_incr")
    store.get("t_incr") shouldBe Some("2024-01-03 10:00:00")
  }

  test("incrementalSubquery renders the reference's pushdown shape") {
    Jdbc.incrementalSubquery("landing.jobs", "ingested_at", "2024-01-01") shouldBe
      "(SELECT * FROM landing.jobs WHERE ingested_at > '2024-01-01') filtered_data"
  }

  test("watermark literals are escaped: a quote-containing value round-trips") {
    // The quoting contract, now enforced: an embedded single quote must
    // neither break the subquery nor rewrite the predicate.
    Jdbc.incrementalSubquery("t", "c", "it's") shouldBe
      "(SELECT * FROM t WHERE c > 'it''s') filtered_data"
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    conn.createStatement().execute(
      "CREATE TABLE T_QUOTE (ID BIGINT, MARK VARCHAR(32))")
    conn.close()
    Jdbc.append(Seq((1L, "a'a"), (2L, "z'z")).toDF("ID", "MARK"),
      jdbcUrl, "T_QUOTE")
    val store = new WatermarkStore(
      Files.createTempDirectory("wmq").resolve("state.properties"))
    store.set("t_quote", "a'a") // watermark value itself contains a quote
    val delta = Jdbc.incrementalScan(spark, jdbcUrl, "T_QUOTE", "MARK",
      store, "t_quote")
    delta.select("ID").as[Long].collect() shouldBe Array(2L)
    // backslash escaping is engine-dependent (MySQL vs standard SQL):
    // refuse loudly instead of rendering a literal that can silently
    // mean something else on one engine
    an[IllegalArgumentException] should be thrownBy
      Jdbc.sqlLiteral("2024\\")
  }

  test("PartitionSpec fans the JDBC read out over N connections/partitions") {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    conn.createStatement().execute(
      "CREATE TABLE T_PAR (ID BIGINT, V VARCHAR(16))")
    conn.close()
    Jdbc.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("ID", "V"),
      jdbcUrl, "T_PAR")
    val par = Jdbc.scan(spark, jdbcUrl, "T_PAR",
      partitioning = Some(Jdbc.PartitionSpec("ID", 1L, 100L, 4)))
    // the read itself is parallel: one task per stride
    par.rdd.getNumPartitions shouldBe 4
    par.count() shouldBe 100
    // bounds shape parallelism, not the result: rows outside the
    // bounds still arrive (first/last stride are unbounded)
    val narrow = Jdbc.scan(spark, jdbcUrl, "T_PAR",
      partitioning = Some(Jdbc.PartitionSpec("ID", 40L, 60L, 3)))
    narrow.count() shouldBe 100
    // and the incremental path composes with partitioning
    val store = new WatermarkStore(
      Files.createTempDirectory("wmp").resolve("state.properties"))
    store.set("t_par", "v") // VARCHAR compare: every 'vNN' > 'v'
    val inc = Jdbc.incrementalScan(spark, jdbcUrl, "T_PAR", "V",
      store, "t_par",
      partitioning = Some(Jdbc.PartitionSpec("ID", 1L, 100L, 4)))
    inc.rdd.getNumPartitions shouldBe 4
    inc.count() shouldBe 100
  }

  // ---- partitioned parquet sink -----------------------------------------

  test("partitioned parquet sink lays out partition dirs and scans prune on them") {
    val dir = Files.createTempDirectory("pq").toString + "/t"
    val df = Seq(("us", "2024-01-01", 1), ("us", "2024-01-02", 2),
      ("jp", "2024-01-01", 3)).toDF("country", "load_date", "v")
    FileIO.writePartitionedParquet(df, dir, Seq("country", "load_date"))
    // append mode: second write adds files, not replaces
    FileIO.writePartitionedParquet(
      Seq(("jp", "2024-01-03", 4)).toDF("country", "load_date", "v"),
      dir, Seq("country", "load_date"))

    new java.io.File(s"$dir/country=us/load_date=2024-01-01").exists() shouldBe true
    new java.io.File(s"$dir/country=jp/load_date=2024-01-03").exists() shouldBe true

    val pruned = FileIO.readParquet(spark, dir).filter($"country" === "us")
    pruned.count() shouldBe 2
    // partition filter reaches the scan (pruning, not post-filter)
    val scan = pruned.queryExecution.executedPlan.toString
    scan should include("PartitionFilters")
  }

  test("bucketed tables join without a shuffle on either side") {
    val orders = (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("k", "o")
    val custs = (1 to 200).map(i => (i.toLong, s"c$i")).toDF("k", "c")
    FileIO.writeBucketedTable(orders, "b_orders", "k", 4)
    FileIO.writeBucketedTable(custs, "b_custs", "k", 4)
    val joined = spark.table("b_orders").join(spark.table("b_custs"), "k")
    joined.count() shouldBe 200
    val plan = joined.queryExecution.executedPlan.toString
    // SortMergeJoin reads both bucketed layouts directly — no Exchange.
    plan should not include "Exchange hashpartitioning"
  }

  test("CSV and JSON sinks round-trip under explicit schemas") {
    val dir = Files.createTempDirectory("io").toString
    val df = Seq((1L, "x", "2024-01-01 00:00:00")).toDF("id", "s", "ts")
    FileIO.writeCsv(df, s"$dir/csv")
    FileIO.writeJson(df, s"$dir/json")
    val schema = df.schema
    FileIO.readCsv(spark, s"$dir/csv", schema).collect() shouldBe df.collect()
    FileIO.readJson(spark, s"$dir/json", schema).collect() shouldBe df.collect()
  }
}
