package graft.pipeline

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.CacheRegistry
import graft.etl.{Schemas, Transform}
import graft.sources.FileIO
import graft.star.{JobStar, JobStarBuilder, SkStrategy, StarSchemaBuilder}

/** End-to-end pipeline — the engine's replacement for the reference's
  * Airflow DAG chain (`dags/master_pipeline.py:76`):
  *
  *   setup → extract → transform → load → star build
  *
  * Stage boundaries are file handoffs (like the reference's shared
  * volume), so any stage can be re-run from its predecessor's output
  * (restartability — reference `documentation/process.txt:2`). The
  * "API" is a raw JSON file — extraction upstream of the file is
  * driver-side HTTP in the reference (S1/S2) and out of engine scope.
  */
object JobsPipeline {

  final case class Paths(workDir: String) {
    val rawDir = s"$workDir/raw_jobs"
    val transformedDir = s"$workDir/transformed_jobs"
  }

  /** Stage 1 (S10): DDL setup — catalog database for the warehouse. */
  def setup(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  /** Stage 2 (S3): ingest the raw feed under the fixed schema and land
    * it as the canonical raw snapshot. */
  def extract(spark: SparkSession, rawJsonPath: String, p: Paths): DataFrame = {
    val raw = FileIO.readJson(spark, rawJsonPath, Schemas.RawJob)
    FileIO.writeJson(raw, p.rawDir)
    FileIO.readJson(spark, p.rawDir, Schemas.RawJob)
  }

  /** Stage 3: conform raw → landing contract, CSV handoff (S4). */
  def transform(spark: SparkSession, raw: DataFrame, now: Column,
      p: Paths): DataFrame = {
    val conformed = Transform.conform(raw, now)
    FileIO.writeCsv(conformed, p.transformedDir)
    FileIO.readCsv(spark, p.transformedDir, Schemas.LandingJob)
  }

  /** Stage 4 (S9): bulk load into the landing table — overwrite per
    * run, the engine's TRUNCATE + COPY. */
  def load(spark: SparkSession, landing: DataFrame, db: String): DataFrame = {
    landing.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"$db.landing_job_listings")
    spark.table(s"$db.landing_job_listings")
  }

  /** Stage 5 (S8): star build + warehouse save of all 9 tables.
    *
    * Layout is chosen per table for the queries that hit it:
    *   - the fact is partitioned by date_sk — the classic warehouse
    *     layout, so date-filtered BI queries prune partitions at file
    *     listing (S7 composed with S8) — AND bucketed on
    *     job_posting_pk;
    *   - the bridge is bucketed on job_posting_pk with the SAME bucket
    *     count, so the fact↔bridge join (every skill-flatten BI query)
    *     reads co-located buckets and shuffles NEITHER side — at 100 TB
    *     that join is the biggest repeated shuffle in the workload.
    *
    * Both bucket counts follow the landing table's size in bytes
    * ([[FileIO.bucketCount]], floor 1), which the file listing already
    * knows: one bucket per 256 MB of landing data, so a nightly batch
    * of a few MB writes one fact file per date instead of up to one
    * per date and bucket.
    *
    * Every frame's lineage runs once: the bounded dims are local
    * relations (each written as one file), `dim_job_details` is
    * persisted by the builder and the fact (read by the bridge) here.
    * The seven dims read nothing another write produces, so they are
    * written side by side; each is a small job whose time is mostly
    * driver overhead.
    */
  def buildStar(spark: SparkSession, landing: DataFrame, now: Column,
      db: String, strategy: SkStrategy.Value): JobStar = {
    val star = JobStarBuilder.build(landing, now, strategy)
    val buckets = FileIO.bucketCount(StarSchemaBuilder.plannedBytes(landing),
      floor = 1)
    CacheRegistry.persistTracked(star.fact, CacheRegistry.DataSized)
    def write(name: String): Unit = {
      val df = star.all(name)
      (name match {
        case "fact_job_postings" =>
          df.write.partitionBy("date_sk")
            .bucketBy(buckets, "job_posting_pk")
            .sortBy("job_posting_pk")
        case "bridge_job_skill" =>
          df.write.bucketBy(buckets, "job_posting_pk")
            .sortBy("job_posting_pk")
        case _ if df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] =>
          df.coalesce(1).write
        case _ => df.write
      }).mode(SaveMode.Overwrite).format("parquet").saveAsTable(s"$db.$name")
    }
    val dims = star.all.keys.filter(_.startsWith("dim_")).toSeq
    val pool = Executors.newFixedThreadPool(dims.size)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(dims)(n => Future(write(n))), Duration.Inf)
    } finally pool.shutdown()
    write("fact_job_postings")
    write("bridge_job_skill")
    star
  }

  /** The full chain. */
  def run(
      spark: SparkSession,
      rawJsonPath: String,
      workDir: String,
      now: Column,
      db: String = "graft",
      strategy: SkStrategy.Value = SkStrategy.Auto): JobStar = {
    val p = Paths(workDir)
    setup(spark, db)
    val raw = extract(spark, rawJsonPath, p)
    val landing = transform(spark, raw, now, p)
    val loaded = load(spark, landing, db)
    buildStar(spark, loaded, now, db, strategy)
  }
}
