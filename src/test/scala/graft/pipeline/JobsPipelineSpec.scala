package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end spine: raw JSON fixture → transform → load → star build
  * (SURVEY §7.2 — the minimum end-to-end slice, on original synthetic
  * records shaped like the reference's raw API payload). */
class JobsPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): String = {
    val dir = Files.createTempDirectory("rawjobs")
    val rows = Seq(
      """{"job_title":"Data Engineer","employer_name":"acme corp","job_publisher":"boardA","job_employment_type":"fulltime","job_description":"spark sql python pipelines","job_is_remote":true,"job_posted_at":"3 days ago","job_posted_at_datetime_utc":"2025-12-29T00:00:00Z","job_location":"Springfield, OH","job_city":"Springfield","job_state":"OH","job_country":"US","job_highlights":"{\"Qualifications\":[\"sql\"]}"}""",
      """{"job_title":"ML Engineer","employer_name":"ACME CORP","job_publisher":"boardB","job_employment_type":"contract","job_description":"pytorch and machine learning","job_is_remote":false,"job_posted_at":"6 hours ago","job_posted_at_datetime_utc":"2025-12-31T18:00:00Z","job_location":"Remoteville, CA","job_city":"Remoteville","job_state":"CA","job_country":"US","job_highlights":"{\"Benefits\":[\"gym\"]}"}""",
      """{"job_title":"Analyst","employer_name":"beta llc","job_publisher":"boardA","job_employment_type":"fulltime","job_description":"excel tableau analytics","job_is_remote":false,"job_posted_at":"yesterday","job_posted_at_datetime_utc":null,"job_location":"Springfield, OH","job_city":"Springfield","job_state":"OH","job_country":"US","job_highlights":null}""",
      """{"job_title":"Platform Eng","employer_name":null,"job_publisher":"boardC","job_employment_type":null,"job_description":"kubernetes docker aws","job_is_remote":true,"job_posted_at":"12 days ago","job_posted_at_datetime_utc":"2025-12-20T00:00:00Z","job_location":null,"job_city":null,"job_state":null,"job_country":null,"job_highlights":null}"""
    )
    val f = dir.resolve("raw_jobs.json")
    Files.write(f, rows.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private lazy val star = {
    val work = Files.createTempDirectory("pipework").toString
    JobsPipeline.run(spark, fixture(), work,
      now = lit("2026-01-01 00:00:00").cast("timestamp"), db = "graft_test")
  }

  test("pipeline produces all 9 star tables in the warehouse catalog") {
    star.all.keySet.foreach { t =>
      spark.catalog.tableExists(s"graft_test.$t") shouldBe true
    }
  }

  test("dims are distinct, normalized, densely keyed") {
    star.dimCompany.orderBy("company_sk")
      .as[(Long, String)].collect() shouldBe Array(
      (1L, "ACME CORP"), (2L, "BETA LLC")) // case-collapsed to one key
    star.dimPublisher.count() shouldBe 3
    star.dimEmploymentType.as[(Long, String)].collect()
      .map(_._2).sorted shouldBe Array("Contract", "Fulltime")
    star.dimLocation.count() shouldBe 2
  }

  test("fact has one row per raw record with resolved or null SKs") {
    val fact = star.fact.collect()
    fact.length shouldBe 4
    star.fact.agg(countDistinct("job_posting_pk")).as[Long].collect().head shouldBe 4
    // the record with null employer/location keeps the row, SKs null (left joins)
    val orphan = star.fact.filter(col("company_sk").isNull)
    orphan.count() shouldBe 1
    orphan.select("location_sk").as[Option[Long]].collect().head shouldBe None
  }

  test("skills bridge pairs are distinct and covered by fact PKs and skill SKs") {
    val bridge = star.bridge
    bridge.count() shouldBe bridge.distinct().count()
    bridge.join(star.fact, Seq("job_posting_pk"), "left_anti").count() shouldBe 0
    bridge.join(star.dimSkill, Seq("skill_sk"), "left_anti").count() shouldBe 0
    // the spark/sql/python description must link to >= 3 skills
    val de = star.fact
      .join(star.dimJobDetails.select("job_sk", "job_title"), "job_sk")
      .filter(col("job_title") === "Data Engineer")
      .join(bridge, "job_posting_pk")
    de.count() should be >= 3L
  }

  test("the from_json highlights quirk is preserved: object payloads parse to NULL") {
    star.dimJobDetails.filter(col("job_highlights_array").isNotNull)
      .count() shouldBe 0
  }

  test("empty raw input produces a complete, empty star (the reference's empty-input guard)") {
    val dir = Files.createTempDirectory("rawempty")
    val f = dir.resolve("raw_jobs.json")
    Files.write(f, Array.empty[Byte])
    val work = Files.createTempDirectory("pipework-empty").toString
    val emptyStar = JobsPipeline.run(spark, f.toString, work,
      now = lit("2026-01-01 00:00:00").cast("timestamp"), db = "graft_empty")
    emptyStar.all.foreach { case (name, df) =>
      withClue(name) { df.count() shouldBe 0 }
    }
    // schemas intact despite zero rows
    emptyStar.fact.columns should contain("job_posting_pk")
    emptyStar.dimCompany.columns.toSeq shouldBe Seq("company_sk", "employer_name")
  }

  test("warehouse fact table is partitioned by date_sk") {
    star // force the main pipeline run
    val partCols = spark.catalog.listColumns("graft_test.fact_job_postings")
      .filter("isPartition").collect().map(_.name)
    partCols shouldBe Array("date_sk")
  }

  test("fact and bridge are co-bucketed on job_posting_pk: their join shuffles neither side") {
    star // force the main pipeline run
    // Auto-broadcast off so the tiny test tables don't short-circuit
    // into a broadcast join — the 100 TB shape is the sort-merge path,
    // which must read both bucketed layouts with NO Exchange.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_test.fact_job_postings")
        .join(spark.table("graft_test.bridge_job_skill"), "job_posting_pk")
      joined.count() should be >= 3L
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      (plan should not).include("Exchange hashpartitioning")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("buildStar runs a bounded number of Spark jobs; fact and bridge share one bucket") {
    star // the landing table the main pipeline run loaded
    val landing = spark.table("graft_test.landing_job_listings")
    JobsPipeline.setup(spark, "graft_jobs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // The bus is async FIFO: sentinel A flushes any straggler events
      // from earlier cases; everything counted after n0 started after
      // A, and sentinel B is the window's last job. An RDD count is
      // exactly ONE job.
      def flushWith(atLeast: Int): Unit = {
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis + 30000
        while (jobs.get() < atLeast && System.currentTimeMillis < deadline)
          Thread.sleep(20)
      }
      flushWith(1)
      val n0 = jobs.get()
      JobsPipeline.buildStar(spark, landing,
        lit("2026-01-01 00:00:00").cast("timestamp"), "graft_jobs",
        graft.star.SkStrategy.Auto)
      flushWith(n0 + 1)
      // One aggregate for the bounded dims, one write per table, one
      // shared broadcast for the five bounded lookups: 14 jobs on this
      // fixture, where one build per dim took 36.
      (jobs.get() - n0 - 1) should be <= 14
    } finally spark.sparkContext.removeSparkListener(listener)
    def buckets(t: String) = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        t, Some("graft_jobs")))
      .bucketSpec.map(_.numBuckets)
    buckets("fact_job_postings") shouldBe buckets("bridge_job_skill")
    buckets("fact_job_postings") shouldBe Some(1)
  }

  test("date dim covers the parsed posted dates, including relative-time fallback") {
    // 2025-12-29, 2025-12-31, 2025-12-20 from explicit UTC; the
    // "yesterday" record has no UTC timestamp and parses to NULL
    // (reference bit-compat) → not in the date dim.
    star.dimDate.select("date_sk").as[Int].collect().sorted shouldBe
      Array(20251220, 20251229, 20251231)
  }
}
