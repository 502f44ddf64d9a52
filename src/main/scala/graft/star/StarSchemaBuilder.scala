package graft.star

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Star-schema construction — the engine's core ETL operator set.
  *
  * Mirrors the reference's dimensional build (reference
  * `dags/spark_etl_script.py:90-189`: distinct + normalize + surrogate
  * key per dimension, date dimension derivation, fact assembly via left
  * joins back to the dims, bridge via explode) re-expressed Spark-first.
  *
  * Surrogate-key strategy is pluggable (SURVEY §7.4-5):
  *   - [[SkStrategy.PartitionedOffset]] — scalable:
  *     range-partition by the order columns, rank within each partition,
  *     then add per-partition offsets. Two jobs, all-parallel, stays on
  *     the columnar/codegen path (no RDD round-trip). Same dense 1..N
  *     keys as a global row_number, safe for 100 TB dims.
  *   - [[SkStrategy.GlobalRowNumber]] — bit-compatible with the
  *     reference (`row_number over Window.orderBy`), but the global
  *     unpartitioned window is a single-task sort: correct at any scale,
  *     bottlenecked on one core beyond ~10^8 dim rows. Kept only as the
  *     explicit bit-compat mode.
  *
  *   - [[SkStrategy.Auto]] (the default) — picks GlobalRowNumber when
  *     the input is small enough that a single-task sort is cheaper
  *     than the two-pass machinery (sampling job + two passes), and
  *     PartitionedOffset above the threshold. Never hits the cliff at
  *     scale, never pays the scale machinery for a 25-row dim. The job
  *     star resolves it once per batch from the landing table's size
  *     in bytes ([[SkStrategy.resolve]]), which the file listing
  *     already knows, so the decision launches no job. A direct
  *     `withSurrogateKey(…, Auto)` call has no such size at hand: it
  *     persists its input and counts it.
  *
  * All strategies produce identical output whenever `orderCols` has no
  * duplicate tuples (always true after the dim's `distinct()`).
  */
object SkStrategy extends Enumeration {
  val Auto, PartitionedOffset, GlobalRowNumber = Value

  /** Above this row count Auto switches to the distributed numbering;
    * below it a single-task sort of ≤4M skinny rows is milliseconds. */
  val AutoThreshold: Long = 4L * 1024 * 1024

  /** [[AutoThreshold]]'s counterpart for a landing batch, in bytes: a
    * 500-listing perfbench batch lands as ~340 KB of parquet, so 1 GiB
    * is ~1.5 M listings, inside the row threshold. */
  val AutoThresholdBytes: Long = 1L << 30

  /** `strategy` with Auto resolved for an input of `bytes`. */
  def resolve(strategy: Value, bytes: Long): Value =
    if (strategy != Auto) strategy
    else if (bytes <= AutoThresholdBytes) GlobalRowNumber
    else PartitionedOffset
}

object StarSchemaBuilder {

  /** The planner's estimate of `df`'s size in bytes. For a table scan
    * it is the file listing's total, so reading it launches no job. */
  def plannedBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong

  /** Distinct + normalize + dense surrogate key. Dimension rows are tiny
    * relative to the fact, so the distinct's shuffle is the real cost;
    * the SK assignment is chosen by `strategy`. */
  def buildDim(
      src: DataFrame,
      naturalKey: Column,
      skName: String,
      keyName: String,
      strategy: SkStrategy.Value = SkStrategy.Auto): DataFrame = {
    val distinctKeys = src
      .select(naturalKey.as(keyName))
      .filter(col(keyName).isNotNull)
      .distinct()
    withSurrogateKey(distinctKeys, Seq(keyName), skName, strategy)
      .select(col(skName), col(keyName))
  }

  /** Assign a dense 1..N surrogate key ordered by `orderCols`.
    *
    * Output guarantee, both strategies: the result is PARTITION-ORDERED
    * by the new key — partition i's keys all precede partition i+1's,
    * and rows within a partition are ascending. GlobalRowNumber is a
    * single globally-sorted partition; PartitionedOffset range-shuffles
    * on `orderCols` (partition index order == key range order; AQE may
    * only merge ADJACENT range partitions, which preserves it) and the
    * broadcast offset join streams the ranked side in place. Callers
    * whose contract sort IS the SK order can therefore finish with
    * `sortWithinPartitions(sk)` instead of `orderBy(sk)` — same total
    * order for any partition-ordered reader, minus a full range
    * exchange of the fact (measured −3 s of q24's 13 s at sf10x). */
  def withSurrogateKey(
      df: DataFrame,
      orderCols: Seq[String],
      skName: String,
      strategy: SkStrategy.Value): DataFrame = strategy match {
    case SkStrategy.Auto =>
      // Tracked persist: the count below + the numbering pass both
      // read this frame; embedded callers reclaim it via
      // CacheRegistry.drain() (Verify/Bench use clearCache).
      val persisted = graft.CacheRegistry.persistTracked(df,
        graft.CacheRegistry.DataSized)
      val n = persisted.count()
      withSurrogateKey(persisted, orderCols, skName,
        if (n <= SkStrategy.AutoThreshold) SkStrategy.GlobalRowNumber
        else SkStrategy.PartitionedOffset)
    case SkStrategy.GlobalRowNumber =>
      // Reference-compatible: one global sort, single-task window.
      // SKs stay LongType — an int cast would silently wrap past 2^31
      // rows; the reference only needs int at the write boundary.
      df.withColumn(skName,
        row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("long"))
    case SkStrategy.PartitionedOffset =>
      // Scalable two-pass dense numbering, fully DataFrame-native:
      //   1. range-partition by the order columns, so partition i holds
      //      keys strictly before partition i+1;
      //   2. rank within each partition (parallel, partitioned window);
      //   3. add each partition's starting offset (running sum over the
      //      per-partition counts — a window over ≤numShufflePartitions
      //      rows, broadcast back).
      // Global SK = offset(pid) + local rank. No RDD round-trip, no
      // single-task sort over the data; stays in whole-stage codegen.
      // Persisted: the rank pass and the offset pass both consume this
      // frame — without the persist the entire upstream plan (for a
      // fact PK, the whole join chain) executes twice. MEMORY_AND_DISK
      // spills rather than OOMs on 100 TB-scale inputs; tracked so
      // embedded callers reclaim it via CacheRegistry.drain().
      val ranged = graft.CacheRegistry.persistTracked(df
        .repartitionByRange(orderCols.map(col): _*)
        .withColumn("_graft_pid", spark_partition_id()),
        graft.CacheRegistry.DataSized)
      val localW = Window.partitionBy("_graft_pid")
        .orderBy(orderCols.map(col): _*)
      val ranked = ranged.withColumn("_graft_rank",
        row_number().over(localW).cast("long"))
      val offsets = ranged.groupBy("_graft_pid")
        .agg(count(lit(1)).as("_graft_cnt"))
        .withColumn("_graft_offset",
          coalesce(sum("_graft_cnt").over(
            Window.orderBy("_graft_pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("_graft_pid"), col("_graft_offset"))
      ranked.join(broadcast(offsets), "_graft_pid")
        .withColumn(skName, col("_graft_rank") + col("_graft_offset"))
        .drop("_graft_pid", "_graft_rank", "_graft_offset")
  }

  /** Date dimension from a timestamp/date column (reference
    * `dags/spark_etl_script.py:112-120`): one row per distinct date with
    * yyyyMMdd integer SK and calendar attributes. */
  def buildDateDim(src: DataFrame, dateCol: Column): DataFrame =
    dateAttributes(src.select(to_date(dateCol).as("full_date"))
      .filter(col("full_date").isNotNull)
      .distinct())

  /** The date dimension's columns for a frame of distinct, non-null
    * `full_date` values. */
  def dateAttributes(dates: DataFrame): DataFrame =
    dates.select(
        date_format(col("full_date"), "yyyyMMdd").cast("int").as("date_sk"),
        col("full_date"),
        date_format(col("full_date"), "EEEE").as("day_of_week"),
        date_format(col("full_date"), "MMMM").as("month_name"),
        month(col("full_date")).as("month_number"),
        quarter(col("full_date")).as("quarter_number"),
        year(col("full_date")).as("year_number"))
}
