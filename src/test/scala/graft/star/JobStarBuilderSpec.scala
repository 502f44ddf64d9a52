package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Distributed determinism: the star build must produce IDENTICAL
  * output — including every surrogate key — regardless of the physical
  * partitioning of the landing batch. This is the property that makes
  * the engine's results reproducible on a cluster (SURVEY §7.4-1: the
  * reference's monotonically_increasing_id natural key is
  * partition-layout dependent; ours is a content hash). */
class JobStarBuilderSpec extends SparkSpec {
  import spark.implicits._

  private def landing(parts: Int): DataFrame =
    (1 to 60).map { i =>
      (s"title $i", s"employer ${i % 7}", s"board ${i % 3}",
        if (i % 5 == 0) null else "fulltime",
        s"desc spark sql number $i", i % 2 == 0,
        s"${i % 9 + 1} days ago", f"2025-12-${i % 28 + 1}%02dT00:00:00Z",
        s"city ${i % 4}", s"city ${i % 4}", "ST", "US",
        null.asInstanceOf[String],
        s"""["skill${i % 5}", "skill${(i + 1) % 5}"]""")
    }.toDF("job_title", "employer_name", "job_publisher",
        "job_employment_type", "job_description", "job_is_remote",
        "job_posted_at", "job_posted_at_datetime_utc", "job_location",
        "job_city", "job_state", "job_country", "job_highlights", "skills")
      .repartition(parts)

  test("star output is identical under different input partitionings") {
    val now = lit("2026-01-01 00:00:00").cast("timestamp")
    val a = JobStarBuilder.build(landing(1), now)
    val b = JobStarBuilder.build(landing(7), now)
    a.all.foreach { case (name, dfA) =>
      val dfB = b.all(name)
      withClue(s"$name: ") {
        dfA.exceptAll(dfB).count() shouldBe 0
        dfB.exceptAll(dfA).count() shouldBe 0
        dfA.count() should be > 0L
      }
    }
  }

  test("the one-aggregate bounded dims equal the per-dim GlobalRowNumber builds, keys included") {
    val now = lit("2026-01-01 00:00:00").cast("timestamp")
    val src = landing(4)
    val star = JobStarBuilder.build(src, now)
    val grn = SkStrategy.GlobalRowNumber
    val skills = src.select(explode_outer(graft.functions.parseBracketList(
        col("skills"))).as("s"))
      .select(graft.functions.normTitle(col("s")).as("s"))
      .filter(col("s") =!= "")
    val expected = Seq(
      "dim_company" -> StarSchemaBuilder.buildDim(src,
        graft.functions.normName(col("employer_name")), "company_sk",
        "employer_name", grn),
      "dim_publisher" -> StarSchemaBuilder.buildDim(src,
        graft.functions.normTitle(col("job_publisher")), "publisher_sk",
        "publisher_name", grn),
      "dim_employment_type" -> StarSchemaBuilder.buildDim(src,
        graft.functions.normTitle(col("job_employment_type")),
        "employment_type_sk", "employment_type_name", grn),
      "dim_skill" -> StarSchemaBuilder.buildDim(skills, col("s"), "skill_sk",
        "skill_name", grn),
      "dim_location" -> StarSchemaBuilder.withSurrogateKey(
          src.select("job_location", "job_city", "job_state", "job_country")
            .filter(col("job_location").isNotNull).distinct(),
          Seq("job_location"), "location_sk", grn)
        .select("location_sk", "job_location", "job_city", "job_state",
          "job_country"))
    expected.foreach { case (name, want) =>
      withClue(s"$name: ") {
        val got = star.all(name)
        got.columns.toSeq shouldBe want.columns.toSeq
        got.orderBy(got.columns.head).collect().toSeq shouldBe
          want.orderBy(want.columns.head).collect().toSeq
        got.count() should be > 0L
      }
    }
  }

  test("fact chain broadcasts ONLY the 5 bounded dims; fact-sized job-details is unhinted") {
    // dim_job_details is 1:1 with distinct landing jobs — fact-sized. A
    // forced broadcast() there would override Spark's size check and
    // OOM the driver at scale; only the bounded-vocabulary dims may be
    // hinted. Auto-broadcast is disabled so the physical plan reflects
    // hints, not tiny-test-data size estimates.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val now = lit("2026-01-01 00:00:00").cast("timestamp")
      // GlobalRowNumber: the Auto strategy persists the joined frame
      // for the two-pass SK assignment, and cache substitution would
      // hide the join chain behind an InMemoryRelation — the join PLAN
      // under inspection is identical either way.
      val star = JobStarBuilder.build(landing(4), now,
        strategy = SkStrategy.GlobalRowNumber)
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val joins = star.fact.queryExecution.optimizedPlan.collect {
        case j: Join => j
      }
      joins.length shouldBe 6
      val hinted = joins.count(j =>
        j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined))
      hinted shouldBe 5
      val physical = star.fact.queryExecution.executedPlan.toString
      "BroadcastHashJoin".r.findAllIn(physical).size shouldBe 5
      // the unhinted job-details join sort-merges on the natural key
      physical should include("SortMergeJoin")
      // and the pipeline stays correct end-to-end under this plan
      star.fact.count() shouldBe 60
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
