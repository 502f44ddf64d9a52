package graft

/** Single-query profiling harness: run one registered query N times
  * under the SAME regime as [[Bench]] (noop sink, clearCache between
  * runs) and print per-run seconds plus the formatted plan. Usage:
  *
  *   sbt "runMain graft.BenchOne q28_minhash_lsh [runs] [explain]"
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as for Bench.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [runs] [explain]"))
    val runs = if (args.length > 1) args(1).toInt else 3
    val doExplain = args.length > 2 && args(2) == "explain"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start(defaultCpus = "32")
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val d = SparkEntry.allDefs.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    if (doExplain) d.build(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      d.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[benchone] $name run $i: $dt%.3f s")
    }
    spark.stop()
  }
}
