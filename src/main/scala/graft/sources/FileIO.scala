package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** File source/sink surface (SURVEY §2.1 S3/S4/S7/S8).
  *
  * Sources always take an explicit schema — conformance, not inference
  * (inference means an extra full scan and type drift between runs).
  * The partitioned parquet sink writes the reference's
  * `country=/load_date=` style layout (`extract_postgres_table.py:
  * 68-70`) so downstream reads get static + dynamic partition pruning
  * for free.
  */
object FileIO {

  // ---- sources ----------------------------------------------------------

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // ---- sinks ------------------------------------------------------------

  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def writeCsv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Partitioned parquet append — the engine's native incremental
    * layout. Partition columns become directories; a scan filtered on
    * them prunes at the file listing, before any IO. */
  def writePartitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Warehouse table sink — the Snowflake stand-in (S8): a managed
    * table in the session catalog, overwrite per run like the
    * reference's `mode("overwrite")` saves
    * (`dags/spark_etl_script.py:31-39`). */
  def writeWarehouseTable(df: DataFrame, table: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(table)

  /** Bucket count for `bytes` of source data: one bucket per 256 MB,
    * rounded up to a power of two, clamped to [`floor`, 4096]. Beyond
    * 4096 buckets the per-bucket file count dominates. Two tables
    * sized from the same bytes get the same count, so a join between
    * them stays co-bucketed. */
  def bucketCount(bytes: Long, floor: Int): Int = {
    val target = math.max(floor.toLong, (bytes + (256L << 20) - 1) / (256L << 20))
    val pow2 = java.lang.Long.highestOneBit(target)
    math.min(4096L, if (pow2 == target) pow2 else pow2 * 2).toInt
  }

  /** Bucketed warehouse table: co-locates join keys at write time so a
    * later join of two tables bucketed on the same key by the same
    * count needs NO shuffle on either side — at 100 TB the fact↔bridge
    * join shuffles nothing if both were bucketed on job_posting_pk. */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
