package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.jdk.CollectionConverters._

/** Parquet layout auditor — reads what the OPTIMIZER reads: file
  * footers. Per (file, row group) it reports row counts, compressed /
  * uncompressed bytes, and per-column min/max statistics for the
  * requested columns — the numbers that decide whether a scan can
  * skip a row group, before they cost anything at query time.
  * [[graft.sources.SnapshotStore]]'s directory stats read them.
  *
  * Scale shape: the audit never reads data pages — one footer per
  * file, fetched in parallel via `mapPartitions` over the FILE LIST
  * (a Dataset of paths, thousands of rows per 100 TB table, never
  * row-scaled); output is (files × row groups × columns)-bounded.
  */
object LayoutAudit {

  final case class ColumnStat(
      file: String,
      row_group: Int,
      column: String,
      n_rows: Long,
      compressed_bytes: Long,
      total_bytes: Long,
      min_long: Option[Long],
      max_long: Option[Long],
      min_double: Option[Double],
      max_double: Option[Double])

  /** Footer stats for every (file, row group, requested column). */
  def audit(spark: SparkSession, dir: String,
      columns: Seq[String]): Dataset[ColumnStat] = {
    import spark.implicits._
    val files = listParquetFiles(spark, dir)
    require(files.nonEmpty, s"no parquet files under $dir")
    val colSet = columns.toSet
    spark.createDataset(files)
      .repartition(math.min(files.size, 64))
      .mapPartitions { paths =>
        val conf = new Configuration()
        paths.flatMap { p =>
          val in = HadoopInputFile.fromPath(new Path(p), conf)
          val footer = ParquetFileReader.open(in)
          try {
            footer.getFooter.getBlocks.asScala.zipWithIndex.flatMap {
              case (block, gi) =>
                block.getColumns.asScala
                  .filter(c => colSet.contains(c.getPath.toDotString))
                  .map { c =>
                    val st = c.getStatistics
                    val empty = (Option.empty[Long], Option.empty[Long],
                      Option.empty[Double], Option.empty[Double])
                    val (minL, maxL, minD, maxD) =
                      if (st == null || !st.hasNonNullValue) empty
                      else st.genericGetMin match {
                        case n: java.lang.Integer =>
                          (Some(n.longValue), Some(st.genericGetMax
                            .asInstanceOf[java.lang.Integer].longValue),
                            Option.empty[Double], Option.empty[Double])
                        case n: java.lang.Long =>
                          (Some(n.longValue), Some(st.genericGetMax
                            .asInstanceOf[java.lang.Long].longValue),
                            Option.empty[Double], Option.empty[Double])
                        case n: java.lang.Float =>
                          (Option.empty[Long], Option.empty[Long],
                            Some(n.doubleValue), Some(st.genericGetMax
                              .asInstanceOf[java.lang.Float].doubleValue))
                        case n: java.lang.Double =>
                          (Option.empty[Long], Option.empty[Long],
                            Some(n.doubleValue), Some(st.genericGetMax
                              .asInstanceOf[java.lang.Double].doubleValue))
                        case _ => empty // binary/other: no numeric span
                      }
                    ColumnStat(p, gi, c.getPath.toDotString,
                      block.getRowCount, c.getTotalSize,
                      c.getTotalUncompressedSize, minL, maxL, minD, maxD)
                  }.toSeq
            }.toIterator
          } finally footer.close()
        }
      }
  }

  private def listParquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[String] = {
      val it = fs.listStatus(p).toSeq
      it.flatMap {
        case d if d.isDirectory => walk(d.getPath)
        case f if f.getPath.getName.endsWith(".parquet") =>
          Seq(f.getPath.toString)
        case _ => Seq.empty
      }
    }
    walk(path)
  }
}
