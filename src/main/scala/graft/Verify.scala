package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_AQE / SPARK_GRAFT_CPUS are the config-robustness
    // knobs (the PERF log-#28 shake): the gate must hash-match with
    // AQE off and odd partition counts too.
    val spark = GraftSession.start(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); the driver sets
    // no filter and gets every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally { CacheRegistry.drain(); spark.catalog.clearCache() }
    }
    // Suite-end leak guard: after the last query's drain, nothing may
    // remain tracked once the (asynchronous) auto-drain listener bus
    // quiesces — a future drain-bypassing persist path fails the dump
    // loudly here instead of silently pinning executor memory across
    // 104 queries.
    org.apache.spark.sql.graft.CatalystBridge.waitListenerBusEmpty(spark)
    val residual = CacheRegistry.trackedCount
    println(s"[verify] residual tracked frames after drain: $residual")
    require(residual == 0,
      s"CacheRegistry leak: $residual frames still tracked at suite end")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
