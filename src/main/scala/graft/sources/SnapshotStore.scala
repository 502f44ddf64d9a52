package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot table — the minimal transactional layer the
  * incremental sinks (S7/S12) assume: every write lands in its OWN
  * data directory, then publishes by creating an immutable numbered
  * manifest with `CREATE_NEW` (an atomic filesystem primitive).
  * Readers resolve the highest manifest and scan exactly the
  * directories it lists — a half-written data dir is invisible until
  * its manifest exists, and a manifest is never rewritten, so reads
  * are snapshot-consistent without any lock.
  *
  * This is the Delta/Iceberg commit idea reduced to what local/HDFS
  * semantics give for free (atomic exclusive-create), built on public
  * knowledge of those designs — no external format dependency.
  *
  * Concurrency: two writers racing to version N+1 — one wins the
  * exclusive create, the loser's create throws, and [[commit]] retries
  * at N+2 re-reading the then-current lineage (optimistic concurrency;
  * append lineage is recomputed per attempt so the retry includes the
  * winner's data).
  *
  * Scale: manifests list data DIRECTORIES (one per commit), so
  * manifest size and read-side listing grow with commit count, not
  * row count; [[rewrite]] collapses lineage back to one directory
  * and [[vacuum]] deletes directories no retained manifest references.
  * Driver state is O(#versions).
  */
object SnapshotStore {

  final case class Version(
      version: Long,
      op: String, // "append" | "overwrite"
      dataDirs: Seq[String], // relative to the table root
      columns: Seq[String],
      tsMillis: Long,
      tag: Option[String] = None,
      // Per-column [lo, hi] bounds of THIS version's own new data dir
      // (dataDirs.last), recorded at commit from parquet FOOTERS
      // (LayoutAudit — no data pages) for caller-nominated columns.
      // Bounds are doubles, widened OUTWARD on long→double conversion,
      // so they are always sound for pruning; exactness comes from the
      // residual filter, never from the bound.
      dirStats: Map[String, (Double, Double)] = Map.empty)

  private def versionsDir(root: String): Path = Paths.get(root, "_versions")
  private def manifestPath(root: String, v: Long): Path =
    versionsDir(root).resolve(f"v$v%08d.json")

  /** All published versions, ascending (empty for a fresh/absent table). */
  def history(root: String): Seq[Version] = {
    val dir = versionsDir(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d{8}\\.json"))
      .toSeq
      .sortBy(_.getFileName.toString)
      .map(p => parseVersion(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  def latestVersion(root: String): Option[Version] = history(root).lastOption

  /** Append `df` as the next version (lineage = parent dirs + new dir).
    * `statsCols` nominates columns whose per-directory min/max land in
    * the manifest for [[readRange]] pruning (footer-derived, free of
    * data-page reads; columns whose footers lack complete stats are
    * silently skipped — absent stats only cost pruning, never
    * correctness). */
  def append(df: DataFrame, root: String,
      statsCols: Seq[String] = Seq.empty): Version =
    commit(df, root, "append", statsCols = statsCols)

  /** Replace the table content as the next version. Old versions stay
    * readable until [[vacuum]]. */
  def overwrite(df: DataFrame, root: String,
      statsCols: Seq[String] = Seq.empty): Version =
    commit(df, root, "overwrite", statsCols = statsCols)

  /** Exactly-once append keyed by `tag`: if a retained manifest already
    * carries the tag, the call is a NO-OP returning that version — the
    * replay-idempotence hook for an at-least-once writer that replays
    * its last batch after a crash. The guarantee holds as long as
    * tagged manifests outlive the writer's replay horizon, so vacuum
    * retention must cover it. */
  def appendOnce(df: DataFrame, root: String, tag: String,
      statsCols: Seq[String] = Seq.empty): Version =
    history(root).find(_.tag.contains(tag)) match {
      case Some(existing) => existing
      case None => commit(df, root, "append", Some(tag), statsCols)
    }

  /** Compact lineage: read the latest snapshot, write it as ONE new
    * data directory, publish as an overwrite. */
  def rewrite(root: String, statsCols: Seq[String] = Seq.empty)(
      implicit spark: SparkSession): Version =
    overwrite(read(root), root, statsCols)

  /** Latest snapshot. */
  def read(root: String)(implicit spark: SparkSession): DataFrame =
    readVersion(root, latestVersion(root)
      .getOrElse(sys.error(s"snapshot table $root has no versions")).version)

  /** Time travel: the table exactly as version `v` published it. */
  def readVersion(root: String, v: Long)(
      implicit spark: SparkSession): DataFrame = {
    val m = history(root).find(_.version == v)
      .getOrElse(sys.error(s"snapshot table $root has no version $v"))
    val dirs = m.dataDirs.map(d => Paths.get(root, d))
    dirs.filterNot(Files.isDirectory(_)) match {
      case missing if missing.nonEmpty =>
        sys.error(s"version $v references vacuumed data: ${missing.head}")
      case _ =>
    }
    spark.read.parquet(dirs.map(_.toString): _*)
  }

  /** Latest snapshot restricted to `column` ∈ [lower, upper] (both
    * bounds inclusive and optional): whole data DIRECTORIES whose
    * manifest-recorded [min, max] cannot intersect the probe interval
    * are pruned BEFORE Spark ever lists their files — commit-time
    * footer stats (T121's reader) feeding snapshot reads (T116), the
    * manifest-level twin of row-group pruning. The exact residual
    * filter still applies to every surviving row, so results are
    * IDENTICAL to `read(root).filter(...)` whatever the stats say:
    *   - dirs with no recorded bound for `column` (stats never
    *     nominated, incomplete footers, or their originating manifest
    *     vacuumed away) are conservatively KEPT;
    *   - NULLs never satisfy the residual range filter, so null-only
    *     row groups can't be wrongly pruned into or out of the result;
    *   - when every dir prunes, the (schema-correct) empty frame comes
    *     from one dir's listing with a false filter.
    * At 100 TB this is the difference between listing every commit's
    * directory on an object store and touching only the commits whose
    * bounds overlap the probe — manifest arithmetic, zero I/O. */
  def readRange(root: String, column: String,
      lower: Option[Double], upper: Option[Double])(
      implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = latestVersion(root)
      .getOrElse(sys.error(s"snapshot table $root has no versions"))
    // dir → the bounds its INTRODUCING manifest recorded (each commit
    // creates exactly one new dir: dataDirs.last at commit time).
    val boundsByDir: Map[String, (Double, Double)] = history(root)
      .flatMap(v => v.dataDirs.lastOption.flatMap(d =>
        v.dirStats.get(column).map(d -> _))).toMap
    val kept = m.dataDirs.filter { d =>
      boundsByDir.get(d) match {
        case Some((lo, hi)) => lower.forall(_ <= hi) && upper.forall(_ >= lo)
        case None => true // no sound bound — never prune blind
      }
    }
    val residual = (lower.map(l => col(column) >= lit(l)) ++
      upper.map(u => col(column) <= lit(u)))
      .reduceOption(_ && _).getOrElse(lit(true))
    if (kept.isEmpty)
      readDirs(root, m.dataDirs.take(1)).filter(lit(false))
    else readDirs(root, kept).filter(residual)
  }

  /** Read specific data directories of a snapshot table (relative
    * paths as listed in a manifest) — the delta-scan hook for
    * incremental consumers. */
  def readDirs(root: String, dirs: Seq[String])(
      implicit spark: SparkSession): DataFrame = {
    require(dirs.nonEmpty, "readDirs needs at least one directory")
    spark.read.parquet(dirs.map(d => Paths.get(root, d).toString): _*)
  }

  /** Delete data directories referenced by NO retained manifest.
    * `keepLast` manifests are retained (default: all — vacuum only
    * orphans from failed commits); older manifests are deleted first
    * so no manifest ever points at vacuumed data. */
  def vacuum(root: String, keepLast: Int = Int.MaxValue): Unit = {
    val all = history(root)
    val dropped = if (all.size > keepLast) all.dropRight(keepLast) else Seq.empty
    dropped.foreach(v => Files.deleteIfExists(manifestPath(root, v.version)))
    val retained = all.drop(dropped.size)
    val referenced = retained.flatMap(_.dataDirs).toSet
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return
    Files.list(dataRoot).iterator().asScala.toSeq.foreach { d =>
      val rel = s"data/${d.getFileName}"
      if (!referenced.contains(rel)) deleteRecursively(d)
    }
  }

  // ---- internals --------------------------------------------------------

  private def commit(df: DataFrame, root: String, op: String,
      tag: Option[String] = None,
      statsCols: Seq[String] = Seq.empty): Version = {
    Files.createDirectories(versionsDir(root))
    // one data dir per commit attempt set; the dir name is unique so a
    // lost race never collides on data
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val rel = s"data/$commitId"
    df.write.parquet(Paths.get(root, rel).toString)
    val stats =
      if (statsCols.isEmpty) Map.empty[String, (Double, Double)]
      else collectDirStats(df.sparkSession,
        Paths.get(root, rel).toString, statsCols)
    val cols = df.columns.toSeq
    var attempt = 0
    while (attempt < 64) {
      val versions = history(root)
      // tagged commit racing another writer of the SAME tag: the loser
      // finds the tag published, abandons its data dir (vacuum reaps
      // it) and returns the winner's version — still exactly-once
      tag.flatMap(t => versions.find(_.tag.contains(t))) match {
        case Some(winner) =>
          deleteRecursively(Paths.get(root, rel))
          return winner
        case None =>
      }
      val parent = versions.lastOption
      parent.foreach { p =>
        require(op == "overwrite" || p.columns == cols,
          s"append schema mismatch: table has ${p.columns}, got $cols")
      }
      val nextV = parent.map(_.version + 1).getOrElse(1L)
      val dirs =
        if (op == "overwrite") Seq(rel)
        else parent.map(_.dataDirs).getOrElse(Seq.empty) :+ rel
      val v = Version(nextV, op, dirs, cols, System.currentTimeMillis(), tag,
        stats)
      try {
        Files.write(manifestPath(root, nextV),
          versionJson(v).getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE_NEW) // atomic publish
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1 // lost the race — recompute lineage, try next slot
      }
    }
    sys.error(s"snapshot commit to $root lost ${64} races; giving up")
  }

  /** Per-column [lo, hi] for one freshly-written data dir, from
    * parquet FOOTERS only ([[graft.operators.LayoutAudit.audit]] —
    * never data pages). A column is recorded only when EVERY row group
    * carries a min AND a max for it (one statless group makes the dir
    * bound unsound, and soundness is the whole contract). Long stats
    * widen OUTWARD on the long→double conversion so a bound can never
    * exclude a value it actually contains. */
  private def collectDirStats(spark: SparkSession, dataDir: String,
      statsCols: Seq[String]): Map[String, (Double, Double)] = {
    def down(v: Long): Double = {
      val d = v.toDouble
      if (BigDecimal(d) > BigDecimal(v)) Math.nextDown(d) else d
    }
    def up(v: Long): Double = {
      val d = v.toDouble
      if (BigDecimal(d) < BigDecimal(v)) Math.nextUp(d) else d
    }
    val st = graft.operators.LayoutAudit.audit(spark, dataDir, statsCols)
      .collect() // (files × row groups × columns)-bounded
    statsCols.distinct.flatMap { c =>
      val rows = st.filter(_.column == c)
      val los = rows.flatMap(r => r.min_double.orElse(r.min_long.map(down)))
      val his = rows.flatMap(r => r.max_double.orElse(r.max_long.map(up)))
      // A NaN bound would make readRange's lower.forall(_ <= hi)
      // false and silently prune a matching directory (ADVICE r14) —
      // record no bound for the column instead, the same conservative
      // direction as a row group with missing stats.
      if (rows.nonEmpty && los.length == rows.length &&
          his.length == rows.length &&
          !los.exists(_.isNaN) && !his.exists(_.isNaN))
        Some(c -> (los.min, his.max))
      else None
    }.toMap
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def versionJson(v: Version): String = {
    val dirs = v.dataDirs.map(d => s""""${esc(d)}"""").mkString("[", ",", "]")
    val cols = v.columns.map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
    val tagF = v.tag.map(t => s""","tag":"${esc(t)}"""").getOrElse("")
    // Three parallel arrays (the flat shape the regex parser reads);
    // Double.toString round-trips losslessly through Double.parseDouble.
    val statsF = if (v.dirStats.isEmpty) "" else {
      val ks = v.dirStats.keys.toSeq.sorted
      val names = ks.map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
      val lo = ks.map(k => v.dirStats(k)._1.toString).mkString("[", ",", "]")
      val hi = ks.map(k => v.dirStats(k)._2.toString).mkString("[", ",", "]")
      s""","stats_cols":$names,"stats_lo":$lo,"stats_hi":$hi"""
    }
    s"""{"version":${v.version},"op":"${v.op}","data_dirs":$dirs,""" +
      s""""columns":$cols,"ts_millis":${v.tsMillis}$tagF$statsF}"""
  }

  private def parseVersion(s: String): Version = {
    def longF(name: String): Long =
      s"""\"$name\":(-?\\d+)""".r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"manifest missing $name")).group(1).toLong
    def strF(name: String): String =
      (s"""\"$name\":\"((?:[^"\\\\]|\\\\.)*)\"""").r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"manifest missing $name")).group(1)
    def arrF(name: String): Seq[String] = {
      val body = (s"""\"$name\":\\[([^\\]]*)\\]""").r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"manifest missing $name")).group(1)
      if (body.trim.isEmpty) Seq.empty
      else """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
    }
    def numArrF(name: String): Seq[Double] = {
      val body = (s"""\"$name\":\\[([^\\]]*)\\]""").r.findFirstMatchIn(s)
      body.map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        .map(java.lang.Double.parseDouble).toSeq).getOrElse(Seq.empty)
    }
    val tag = """"tag":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(s)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    val statCols =
      if (s.contains(""""stats_cols":""")) arrF("stats_cols") else Seq.empty
    val stats = statCols.zip(numArrF("stats_lo").zip(numArrF("stats_hi")))
      .toMap
    Version(longF("version"), strF("op"), arrF("data_dirs"),
      arrF("columns"), longF("ts_millis"), tag, stats)
  }
}
