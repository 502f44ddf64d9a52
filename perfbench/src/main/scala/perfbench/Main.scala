package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.{CacheRegistry, SparkEntry}
import graft.pipeline.JobsPipeline
import graft.queries._

/** The benchmark's engine process. run.py generates the inputs, starts
  * this main once per run, and checks and scores what it writes to
  * `<run-dir>/result.json`.
  *
  * One closed-loop client on `local[cpus]`: set up (session start, the
  * workload's warehouse build or shared-table prebuild, and one warm-up
  * pass that also dumps every distinct query's output for the oracle
  * check), then run whole cycles of the workload's operations back to
  * back until `seconds` have passed. With `trace 1` the first half of
  * the window runs untraced and the second half with the Spark
  * listener, the planning-phase listener and per-phase spans, so one
  * run reports its own tracing overhead.
  *
  * Args: --workload W --data DIR --run-dir DIR --seconds S --trace 0|1
  *       --cpus N --superset FILE --batches B --now TS
  */
object Main {

  /** Dashboard mix: a big-number KPI, trends, counts by entity, top-k, a
    * star flatten view, skill counts, funnels, pivots, roll-ups, a cube
    * and window queries (the Superset chart SQL is added at run time).
    * Sized so one cycle fits the run window. q01, q09 and q45 are left
    * out: they round float sums or averages to 2 decimals, and where the
    * exact value is a decimal tie (q09 has one on 9 of 30 seeds) the
    * engine's and DuckDB's float sums round to different sides, so the
    * oracle check would fail on those seeds. */
  val BiQueries: Seq[String] = Seq(
    "q02_monthly_trend", "q04_kpi_total", "q07_count_by_nation",
    "q08_topk_customers", "q44_sql_view_flatten", "q26_skill_counts",
    "q40_daily_funnel",
    "q54_pivot", "q55_rollup", "q106_cube", "q116_cumulative_users",
    "q117_cohort_retention")

  /** Exact, MinHash, SimHash and fuzzy dedup, near-dup clustering,
    * semantic dedup, duplicate-span removal, ANN and BM25 retrieval. */
  val CorpusQueries: Seq[String] = Seq("q27_dedup_exact", "q28_minhash_lsh",
    "q29_simhash", "q59_simhash_neardup", "q64_neardup_clusters",
    "q66_semantic_dedup", "q105_exact_substr_spans", "q125_fuzzy_dedup",
    "q173_remove_dup_spans", "q41_ann_topk", "q42_ann_ivf",
    "q126_bm25_topk")

  val StarTables: Seq[String] = Seq("dim_company", "dim_publisher",
    "dim_employment_type", "dim_location", "dim_date", "dim_job_details",
    "dim_skill", "fact_job_postings", "bridge_job_skill")

  /** Runs `f` as a named child span of the current operation. */
  trait Phase { def apply[A](name: String)(f: => A): A }

  final case class Op(name: String, family: String, run: Phase => Unit,
      dump: Option[String => Unit] = None)

  final case class OpRec(id: Int, name: String, family: String,
      start: Double, end: Double, ok: Boolean, traced: Boolean,
      phases: Seq[(String, Double, Double)], extra: Map[String, Any])

  private def du(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Superset chart SQL: blocks introduced by `-- name: <id>` lines.
    * The parsed pairs go into result.json, which the output check reads. */
  def parseNamedSql(text: String): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var name: String = null
    val buf = new StringBuilder
    def flush(): Unit =
      if (name != null) out += ((name, buf.toString.trim.stripSuffix(";")))
    text.linesIterator.foreach { line =>
      if (line.startsWith("-- name:")) {
        flush(); buf.clear(); name = line.stripPrefix("-- name:").trim
      } else if (name != null) buf.append(line).append('\n')
    }
    flush()
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val runDir = opt("run-dir")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    val sc = spark.sparkContext
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    sc.setLogLevel("ERROR")
    val sessionReady = Clock.ms

    def drainAll(): Unit = { CacheRegistry.drain(); spark.catalog.clearCache() }

    // ---- operations -------------------------------------------------
    val familyOf: Map[String, String] = Seq(
      "core" -> CoreQueries.defs, "sqlviews" -> SqlViews.defs,
      "event" -> EventQueries.defs, "star" -> StarQueries.defs,
      "text" -> TextQueries.defs, "ann" -> AnnQueries.defs,
      "retrieval" -> RetrievalQueries.defs)
      .flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap
    val defsByName = SparkEntry.allDefs.map(d => d.name -> d).toMap

    // Storage snapshot taken just before a traced operation drains.
    var storageSnap: Map[String, Any] = Map.empty
    def snapshotStorage(): Unit = {
      val infos = sc.getRDDStorageInfo
      storageSnap = Map(
        "tracked_frames" -> CacheRegistry.trackedCount,
        "storage_mem_bytes" -> infos.map(_.memSize).sum,
        "storage_disk_bytes" -> infos.map(_.diskSize).sum)
    }
    @volatile var tracing = false
    val sparkTrace = new SparkTrace
    val planTrace = new PlanTrace
    def drainPhase(ph: Phase): Unit = {
      if (tracing) snapshotStorage()
      ph("drain")(drainAll())
    }

    /** A query operation: build the frame, run it through the noop sink,
      * drain. Its dump writes the result once for the oracle check. */
    def frameOp(name: String, family: String, build: () => DataFrame): Op =
      Op(name, family, { ph =>
        try {
          val df = ph("build")(build())
          // Analysis runs eagerly when the frame is built; the write's
          // own QueryExecution re-analyzes nothing.
          if (tracing) planTrace.record(df.queryExecution)
          ph("exec")(df.write.format("noop").mode("overwrite").save())
        } finally drainPhase(ph)
      }, Some { out =>
        try build().coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        finally drainAll()
      })
    def queryOp(name: String, dir: String): Op = {
      val d = defsByName(name)
      frameOp(name, familyOf(name), () => d.build(spark, dir))
    }

    val now = lit(opt("now")).cast("timestamp")
    val work = s"$runDir/work"

    /** extract → transform → load → star build into `db` (overwrite),
      * each stage call a phase of `ph`. */
    def pipeline(ph: Phase, input: String, dir: String, db: String): Unit = {
      val p = JobsPipeline.Paths(dir)
      val raw = ph("extract")(JobsPipeline.extract(spark, input, p))
      val landing = ph("transform")(JobsPipeline.transform(spark, raw, now, p))
      val loaded = ph("load")(JobsPipeline.load(spark, landing, db))
      ph("build_star")(JobsPipeline.buildStar(spark, loaded, now, db,
        graft.star.SkStrategy.Auto))
    }
    /** Bytes each stage left on disk, and the raw input's size. */
    def pipelineBytes(input: String, dir: String, db: String): Map[String, Any] = {
      val wh = s"$runDir/warehouse/$db.db"
      val p = JobsPipeline.Paths(dir)
      Map(
        "sources_bytes" -> du(p.rawDir),
        "etl_bytes" -> du(p.transformedDir),
        "pipeline_bytes" -> du(s"$wh/landing_job_listings"),
        "star_bytes" -> StarTables.map(t => du(s"$wh/$t")).sum,
        "input_bytes" -> du(input))
    }

    /** One nightly batch into the batch's own database, so after the run
      * each distinct batch's last output is on disk for the check. */
    def batchOp(k: Int): Op =
      Op(s"batch_$k", "etl", { ph =>
        try pipeline(ph, s"$data/jobs_$k.json", s"$work/b$k", s"nightly_$k")
        finally drainPhase(ph)
      })

    val supersetSql = opt.get("superset").map(f =>
      parseNamedSql(new String(Files.readAllBytes(Paths.get(f)),
        StandardCharsets.UTF_8))).getOrElse(Nil)

    // ---- setup --------------------------------------------------------
    val setupStages = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val recordStage = new Phase {
      def apply[A](n: String)(f: => A): A = {
        val s = Clock.ms
        try f finally setupStages += ((n, s, Clock.ms))
      }
    }
    var setupBytes: Map[String, Any] = Map.empty
    var prebuild: Seq[(String, Double)] = Nil
    val setup0 = Clock.ms
    val ops: Seq[Op] = workload match {
      case "bi_dashboard" =>
        // The job star the Superset charts read, built by the pipeline.
        val input = s"$data/jobs_setup.json"
        JobsPipeline.setup(spark, "graft")
        pipeline(recordStage, input, s"$work/setup", "graft")
        drainAll()
        setupBytes = pipelineBytes(input, s"$work/setup", "graft")
        spark.catalog.setCurrentDatabase("graft")
        BiQueries.map(queryOp(_, data)) ++
          supersetSql.map { case (n, q) =>
            frameOp(n, "superset", () => spark.sql(q)) }
      case "corpus_curation" =>
        prebuild = TextQueries.prebuildSharedTables(spark, data)
        CorpusQueries.map(queryOp(_, data))
      case "star_etl" =>
        val batches = opt("batches").toInt
        (0 until batches).foreach(k => JobsPipeline.setup(spark, s"nightly_$k"))
        // Warm-up batch into its own database: JIT and planner warm-up
        // for the pipeline's plan shapes.
        JobsPipeline.setup(spark, "warmup")
        pipeline(recordStage, s"$data/jobs_setup.json", s"$work/warmup", "warmup")
        drainAll()
        (0 until batches).map(batchOp)
      case w => sys.error(s"unknown workload $w")
    }
    val setupWorkS = (Clock.ms - setup0) / 1000.0
    // Warm-up: every distinct query once, untimed, writing its output
    // for the oracle check (JIT warm-up per plan shape happens here).
    val warm0 = Clock.ms
    val dumpFailures = mutable.ArrayBuffer.empty[(String, String)]
    ops.foreach { op =>
      op.dump.foreach { d =>
        try d(s"$runDir/dump")
        catch { case NonFatal(e) =>
          dumpFailures += ((op.name, String.valueOf(e.getMessage).take(300)))
        }
      }
    }
    val warmupS = (Clock.ms - warm0) / 1000.0

    // ---- timed window ---------------------------------------------
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val errors = mutable.ArrayBuffer.empty[(String, String)]
    var nextId = 0

    def runOp(op: Op): Unit = {
      nextId += 1
      val id = nextId
      val traced = tracing
      val kids = mutable.ArrayBuffer.empty[(String, Double, Double)]
      val ph = new Phase {
        def apply[A](n: String)(f: => A): A =
          if (!traced) f
          else {
            val s = Clock.ms
            try f finally kids += ((n, s, Clock.ms))
          }
      }
      storageSnap = Map.empty
      sc.setLocalProperty(OpTag.Key, id.toString)
      planTrace.currentOp = id.toString
      val t0 = Clock.ms
      var ok = true
      try op.run(ph)
      catch { case NonFatal(e) =>
        ok = false
        errors += ((op.name, String.valueOf(e.getMessage).take(300)))
      }
      val t1 = Clock.ms
      sc.setLocalProperty(OpTag.Key, null)
      if (traced)
        org.apache.spark.sql.graft.CatalystBridge.waitListenerBusEmpty(spark)
      val bytes =
        if (op.family != "etl") Map.empty[String, Any]
        else {
          val k = op.name.stripPrefix("batch_")
          pipelineBytes(s"$data/jobs_$k.json", s"$work/b$k", s"nightly_$k")
        }
      recs += OpRec(id, op.name, op.family, t0, t1, ok, traced, kids.toSeq,
        bytes ++ storageSnap)
    }

    // Whole cycles of the mix only, so every run weighs each distinct
    // operation equally: at least one cycle, repeated until `seconds`
    // have passed (in a traced run, untraced cycles fill the first half).
    def cycles(until: Double): Unit =
      do ops.foreach(runOp) while (Clock.ms < until)
    val loopStart = Clock.ms
    if (trace) {
      cycles(loopStart + seconds * 500.0)
      sc.addSparkListener(sparkTrace)
      spark.listenerManager.register(planTrace)
      tracing = true
    }
    cycles(loopStart + seconds * 1000.0)
    if (tracing)
      org.apache.spark.sql.graft.CatalystBridge.waitListenerBusEmpty(spark)
    val hwm = vmHwmKb()

    val oracles = SparkEntry.oracleSql
      .filter { case (k, _) => ops.exists(_.name == k) }
    Files.createDirectories(Paths.get(s"$runDir/dump"))
    Files.write(Paths.get(s"$runDir/dump/oracle_sql.json"),
      json.writeValueAsBytes(oracles))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cpus" -> cpus,
      "jvm_start_ms" -> jvmStart,
      "session_s" -> (sessionReady - jvmStart) / 1000.0,
      "setup_work_s" -> setupWorkS,
      "warmup_s" -> warmupS,
      "setup_stages" -> setupStages.map { case (n, s, e) =>
        Map("name" -> n, "start" -> s, "end" -> e) },
      "setup_bytes" -> setupBytes,
      "prebuild" -> prebuild.toMap,
      "superset_sql" -> supersetSql.toMap,
      "vmhwm_kb" -> hwm,
      "distinct_ops" -> ops.map(o => Map("name" -> o.name, "family" -> o.family,
        "checked" -> o.dump.isDefined)),
      "dump_failures" -> dumpFailures.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "errors" -> errors.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "ops" -> recs.map { r =>
        Map("id" -> r.id, "name" -> r.name, "family" -> r.family,
          "start" -> r.start, "end" -> r.end, "ok" -> r.ok,
          "traced" -> r.traced,
          "phases" -> r.phases.map { case (n, s, e) =>
            Map("name" -> n, "start" -> s, "end" -> e) },
          "extra" -> r.extra)
      })
    if (trace) {
      result("jobs") = sparkTrace.jobList.map { j =>
        Map("id" -> j.jobId, "op" -> j.op, "start" -> j.start, "end" -> j.end,
          "stages" -> j.stageIds) }
      result("stages") = sparkTrace.stageList.map { s =>
        val sorted = s.taskRunMs.sorted
        Map("id" -> s.stageId, "attempt" -> s.attempt, "op" -> s.op,
          "job" -> s.jobId, "start" -> s.submitted, "end" -> s.completed,
          "tasks" -> s.tasks, "tasks_failed" -> s.tasksFailed,
          "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
          "sched_delay_ms" -> s.schedDelayMs, "gc_ms" -> s.gcMs,
          "input_bytes" -> s.inputBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_read_bytes" -> s.shuffleReadBytes,
          "spill_disk_bytes" -> s.spillDiskBytes,
          "output_bytes" -> s.outputBytes,
          "task_max_ms" -> sorted.lastOption.getOrElse(0.0),
          "task_median_ms" -> (if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)))
      }
      result("plan_phases") = planTrace.phases.map { case (op, p) =>
        Map("op" -> op) ++ p }
    }
    Files.write(Paths.get(s"$runDir/result.json"),
      json.writeValueAsBytes(result))
    spark.stop()
  }
}
