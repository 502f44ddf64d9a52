package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.sources.SharedTable

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and
  * the one session-scoped resolver every input-table read goes
  * through.
  *
  * All engine queries take a scale-factor directory and read the table
  * they need; filters and column pruning are left to Catalyst so that
  * `PushedFilters`/`ReadSchema` reach the parquet scan. At cluster scale
  * these paths become warehouse locations — nothing else changes.
  *
  * What is cached: per (session, qualified table path), the analyzed
  * `LogicalRelation` of the first `spark.read.parquet` — its schema,
  * converted once from the first data file's footer and declared to
  * the read, so no Spark job runs, and its file index, listed once.
  * Every later call hands out `relation.newInstance()`: fresh attribute
  * ids, so self-joins and double reads of one table stay distinct.
  * Schema-conversion confs are read at that first resolution.
  *
  * Staleness: every call lists the table's files and compares their
  * fingerprint ([[SharedTable.listFiles]] rows — relative path, length,
  * mtime — hashed by [[SharedTable.fingerprint]], the same rows
  * [[SharedTable.dirFingerprint]] names shared tables by). A changed
  * fingerprint resolves the table again, so a table rewritten in place
  * is never served from its old relation. GRANULARITY CAVEAT, as on
  * `dirFingerprint`: no file content is read, so a rewrite with
  * identical file names AND byte lengths within the filesystem's mtime
  * resolution fingerprints the same and is served stale.
  *
  * Scope: a `HadoopFsRelation` holds its session, so a relation is
  * never shared between sessions; entries of sessions whose
  * SparkContext has stopped are dropped on the next miss. Resolution
  * is serialized per key (`ConcurrentHashMap.compute`), so concurrent
  * clients resolve a table once.
  */
object Tables {

  /** One resolution of a table's files in `spark`. `tsFix` is the
    * conversion of a `ts` column, as the files store it, to the LTZ
    * TimestampType (see [[events]]). */
  private[graft] final class Resolved(val fingerprint: String,
      spark: SparkSession, relation: LogicalRelation,
      val tsFix: Option[Column]) {
    def frame(): DataFrame =
      CatalystBridge.ofRows(spark, relation.newInstance())
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private val resolved = new ConcurrentHashMap[(SparkSession, String), Resolved]()

  /** The current resolution of table `name`'s parquet files under
    * `sfDir`. */
  private[graft] def resolve(spark: SparkSession, sfDir: String,
      name: String): Resolved = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = SharedTable.listFiles(fs, p)
    val fp = SharedTable.fingerprint(fs, p, files)
    val key = (spark, fs.makeQualified(p).toString)
    if (!resolved.containsKey(key))
      resolved.keySet.removeIf(_._1.sparkContext.isStopped)
    resolved.compute(key, (_, prev) =>
      if (prev != null && prev.fingerprint == fp) prev
      else read(spark, fs, path, fp, files))
  }

  private def read(spark: SparkSession, fs: FileSystem, path: String,
      fp: String, files: Seq[FileStatus]): Resolved = {
    val footer = firstFooter(fs, files)
    // Spark's reader rejects INT64 TIMESTAMP(NANOS) unless this is on;
    // set it for the session only when the files need it, and before
    // the footer's schema is converted, which reads it.
    if (!spark.conf.getOption(NanosAsLong).contains("true") && footer.exists(nanosTs))
      spark.conf.set(NanosAsLong, "true")
    // The first data file's schema, declared, so Spark infers none (its
    // inference reads one footer too, in a Spark job). With no data file
    // the read infers, and fails as an undeclared parquet read does.
    val declared = footer.map(CatalystBridge.parquetSchema(_, spark))
    val df = declared.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
    val relation = CatalystBridge.logicalPlan(df) match {
      case r: LogicalRelation => r
      case p => throw new IllegalStateException(
        s"parquet read of $path did not analyze to one relation: $p")
    }
    val tsFix = df.schema.find(_.name == "ts").map(_.dataType).collect {
      case LongType => timestamp_micros(expr("ts div 1000"))
      // isAdjustedToUTC=false parquet reads as TIMESTAMP_NTZ; every
      // event query (windows, watermarks, unix_timestamp math) was
      // written against the LTZ TimestampType the nanos path
      // produced. Sessions run UTC, so the cast is value-identical.
      case TimestampNTZType => col("ts").cast("timestamp")
    }
    new Resolved(fp, spark, relation, tsFix)
  }

  /** The footer of the first data file (by path) of `files`. */
  private def firstFooter(fs: FileSystem, files: Seq[FileStatus]): Option[Footer] = {
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    files.map(_.getPath).filterNot(f => hidden(f.getName) ||
        hidden(f.getParent.getName)).sortBy(_.toString).headOption
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, fs.getConf))
        try new Footer(f, reader.getFooter) finally reader.close()
      }
  }

  /** Whether `footer` stores `ts` as INT64 TIMESTAMP(NANOS). */
  private def nanosTs(footer: Footer): Boolean = {
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField("ts") && {
      val ts = schema.getType(schema.getFieldIndex("ts"))
      ts.isPrimitive &&
      ts.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
      (ts.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    resolve(spark, sfDir, name).frame()

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  /** `events.ts` has shipped as two physical encodings across
    * testdata generations: INT64 TIMESTAMP(NANOS) (which Spark's
    * reader rejects outright — read nanos as long, truncate to µs,
    * exactly what DuckDB's µs-native reader does) and plain
    * TIMESTAMP(MICROS) (read as-is, like orders/lineitem dates).
    * The encoding is read once per resolution, from the footer and the
    * schema converted from it, so either generation works; both yield
    * the same instants, so the oracle agrees either way. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val r = resolve(spark, sfDir, "events")
    val raw = r.frame()
    r.tsFix.fold(raw)(raw.withColumn("ts", _))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
