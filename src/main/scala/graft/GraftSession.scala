package graft

import org.apache.spark.sql.SparkSession

/** The local session the graft mains run on: `local[SPARK_GRAFT_CPUS]`
  * (`defaultCpus` when unset) with one shuffle partition per core, UTC
  * session time, the graft planner extensions, AQE per
  * `SPARK_GRAFT_AQE` (default on), no UI and WARN logging. */
object GraftSession {
  def start(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
