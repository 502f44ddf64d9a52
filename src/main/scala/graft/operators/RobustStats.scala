package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Exact per-key order statistics WITHOUT a per-key sort — the scale
  * path for grouped quantiles when the key cardinality is far below
  * the row count (q113's five event types over a 100 TB event log).
  *
  * The naive exact shape — `row_number() OVER (PARTITION BY key ORDER
  * BY value)` — sorts every group in ONE task: parallelism equals the
  * key cardinality, so five keys means five threads no matter how many
  * executors exist. `percentile()` holds O(distinct values) per group
  * in the aggregation buffer (the q63 caveat). Above the size
  * threshold this operator selects by histogram refinement instead:
  *
  *   1. one scan: per-key count / min / max (key-cardinality rows,
  *      broadcast back — this operator's contract is BOUNDED key
  *      cardinality, the regime where the per-key sort chokes);
  *   2. one scan: per-(key, bucket) histogram over `buckets`
  *      equal-width cells — the shuffle key space is keys × buckets,
  *      data-volume-independent;
  *   3. per-key cumulative counts over the HISTOGRAM (tiny window)
  *      locate the bucket holding every target rank (ALL requested
  *      quantiles share the one histogram) and each rank's offset
  *      within its bucket;
  *   4. one scan: keep only rows landing in a target bucket
  *      (expected group_n / buckets rows per key and rank), rank
  *      those few within (key, bucket), pick the target rows.
  *
  * Every corpus-sized pass is a parallel scan; the only sorts touch
  * the target buckets. Exactness does not depend on float bucket
  * arithmetic: bucket ids only PARTITION the data — ranks come from
  * counting the same partition function, so boundary fuzz moves a
  * row's bucket and its histogram cell together. Worst case (every
  * value in one bucket — near-constant groups) the target-bucket sort
  * degrades to the naive per-key sort, no worse than the baseline.
  *
  * BELOW the threshold the windowed-sort path runs instead: at toy
  * group sizes the histogram's extra stages cost more than the
  * single-task sorts they parallelize (measured on q113: the sf1x
  * probe is 2.9 s sorted vs 5.2 s histogrammed, while sf10x is 16.1 s
  * sorted vs 9.7 s histogrammed). The decision reads Catalyst's
  * `optimizedPlan.stats.sizeInBytes` — free at plan time, no job (the
  * TopKRewriteRule child-stats precedent) — so BOTH paths stay fully
  * lazy. Both compute identical interpolated quantiles; the spec pins
  * their parity.
  */
object RobustStats {

  /** Plan-stats bytes above which the per-key windowed sort is
    * abandoned. 16 MB of (key, value) input per the measured crossover
    * (sf1x's 5.5 MB scan: sort 2.9 s vs histogram 5.2 s; sf10x's
    * 55 MB scan: sort 16.1 s vs histogram 9.7 s). */
  val SortPathMaxBytes: Long = 16L << 20

  /** The explicit path decision for callers whose quantile INPUT is a
    * join (q113's MAD pass): read the size of the frame that carries
    * the honest estimate — the underlying scan — and pin the choice
    * (Catalyst join estimates inflate multiplicatively, ~45× measured
    * on q113, and would misroute the per-pass default). */
  def decideHistogram(scanSized: DataFrame,
      sortPathMaxBytes: Long = SortPathMaxBytes): Some[Boolean] =
    Some(scanSized.queryExecution.optimizedPlan.stats.sizeInBytes >
      sortPathMaxBytes)

  /** Exact interpolated p50 — [[quantilesByKey]] at p = 0.5. */
  def medianByKey(df: DataFrame, keyCol: String, valCol: String,
      out: String = "median", buckets: Int = 4096,
      sortPathMaxBytes: Long = SortPathMaxBytes,
      histogram: Option[Boolean] = None): DataFrame =
    quantilesByKey(df, keyCol, valCol, Seq(0.5 -> out), buckets,
      sortPathMaxBytes, histogram)

  /** Exact interpolated quantiles (SQL `quantile_cont`) of `valCol`
    * per `keyCol`, ALL probes in one pass: for each `(p, outName)` the
    * 0-based position is p·(n−1); the result interpolates the two
    * straddling ranks, v_lo + (v_hi − v_lo)·frac. Returns (`keyCol`,
    * outNames…). Null values are ignored (SQL aggregate semantics);
    * keys whose values are all null are absent.
    *
    * `histogram = None` decides the path from this frame's OWN
    * `optimizedPlan.stats.sizeInBytes` (free at plan time, no job —
    * the TopKRewriteRule precedent). Callers whose input is a join
    * should pass the decision explicitly (`Some(…)` from the
    * UNDERLYING scan's stats): Catalyst's join size estimates inflate
    * multiplicatively, which would misroute the choice — q113's MAD
    * pass (a broadcast-join of the median onto the same scan) shows a
    * 45× inflation. */
  def quantilesByKey(df: DataFrame, keyCol: String, valCol: String,
      probes: Seq[(Double, String)], buckets: Int = 4096,
      sortPathMaxBytes: Long = SortPathMaxBytes,
      histogram: Option[Boolean] = None): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    require(probes.nonEmpty, "at least one quantile probe is required")
    probes.foreach { case (p, _) =>
      require(p >= 0.0 && p <= 1.0, s"quantile p must be in [0, 1]: $p") }
    val rows = df.select(col(keyCol).as("_k"), col(valCol).as("_v"))
      .filter(col("_v").isNotNull)
    val stats = broadcast(rows.groupBy("_k").agg(count(lit(1)).as("_n"),
      min("_v").as("_lo"), max("_v").as("_hi")))
    val useHistogram = histogram.getOrElse(
      rows.queryExecution.optimizedPlan.stats.sizeInBytes > sortPathMaxBytes)

    // Per-probe straddling 1-based ranks and interpolation fraction:
    // pos = p·(n−1) (0-based) ⇒ lo-rank floor(pos)+1, hi-rank
    // ceil(pos)+1, frac = pos − floor(pos). frac is a function of n
    // only — it rides the stats frame, not the data.
    def lowRank(p: Double) =
      (floor(lit(p) * (col("_n") - 1)) + 1).cast("long")
    def highRank(p: Double) =
      (ceil(lit(p) * (col("_n") - 1)) + 1).cast("long")
    def frac(p: Double) =
      lit(p) * (col("_n") - 1) - floor(lit(p) * (col("_n") - 1))

    // One output column per probe from a picked-rank value table
    // (_k, _pi, _which ∈ {1 lo, 2 hi}, _v): pivot the picked values,
    // then interpolate with the stats-frame frac (frac depends only
    // on n, so it joins back from the broadcast stats).
    def assemble(picked: DataFrame): DataFrame = {
      val aggs = probes.indices.flatMap { pi => Seq(
        min(when(col("_pi") === pi && col("_which") === 1, col("_v")))
          .as(s"_lo$pi"),
        min(when(col("_pi") === pi && col("_which") === 2, col("_v")))
          .as(s"_hi$pi")) }
      val base = picked.groupBy("_k").agg(aggs.head, aggs.tail: _*)
        .join(stats, "_k")
      val outs = probes.zipWithIndex.map { case ((p, outName), pi) =>
        (col(s"_lo$pi") + (col(s"_hi$pi") - col(s"_lo$pi")) * frac(p))
          .as(outName) }
      base.select(col("_k").as(keyCol) +: outs: _*)
    }

    // Tag a ranked row with every (probe, side) it satisfies — a row
    // can be BOTH a probe's lo and hi rank (integral position), or
    // serve several probes at once; null tags drop after the explode.
    def tagRanks(ranked: DataFrame): DataFrame = {
      val tags = array(probes.zipWithIndex.flatMap { case ((p, _), pi) =>
        Seq(
          when(col("_rn") === lowRank(p),
            struct(lit(pi).as("_pi"), lit(1).as("_which"))),
          when(col("_rn") === highRank(p),
            struct(lit(pi).as("_pi"), lit(2).as("_which"))))
      }: _*)
      ranked.select(col("_k"), col("_v"), explode(tags).as("_t"))
        .filter(col("_t").isNotNull)
        .select(col("_k"), col("_t._pi").as("_pi"),
          col("_t._which").as("_which"), col("_v"))
    }

    if (!useHistogram) {
      // Windowed-sort path: one task per key — fine while the input
      // (an upper bound on the largest group) fits a task's sort
      // budget. ONE window pass serves every probe.
      val w = Window.partitionBy("_k").orderBy("_v")
      val ranked = rows.withColumn("_rn", row_number().over(w))
        .join(stats, "_k")
      assemble(tagRanks(ranked))
    } else {
      // Equal-width bucket id in [0, buckets). Width 0 (constant
      // group) pins everything to bucket 0.
      def bucketOf(v: org.apache.spark.sql.Column) = {
        val w = (col("_hi") - col("_lo")) / lit(buckets.toDouble)
        when(col("_hi") === col("_lo"), lit(0L)).otherwise(
          least(floor((v - col("_lo")) / w), lit(buckets - 1L)).cast("long"))
      }
      val bucketed = rows.join(stats, "_k")
        .withColumn("_b", bucketOf(col("_v")))
      val hist = bucketed.groupBy("_k", "_b").agg(count(lit(1)).as("_c"))

      // Every probe's two ranks, tagged (probe index, which side).
      val ks = stats.select(col("_k"), explode(array(
          probes.zipWithIndex.flatMap { case ((p, _), pi) =>
            Seq(struct(lowRank(p).as("_rank"), lit(pi).as("_pi"),
                lit(1).as("_which")),
              struct(highRank(p).as("_rank"), lit(pi).as("_pi"),
                lit(2).as("_which")))
          }: _*)).as("_t"))
        .select(col("_k"), col("_t._rank").as("_rank"),
          col("_t._pi").as("_pi"), col("_t._which").as("_which"))

      // Locate each target rank's bucket + in-bucket offset on the
      // HISTOGRAM (keys × buckets rows — the window is over tiny
      // data).
      val wcum = Window.partitionBy("_k").orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("_cum", sum("_c").over(wcum))
      val targets = cum.join(ks, "_k")
        .filter(col("_rank") > col("_cum") - col("_c") &&
          col("_rank") <= col("_cum"))
        .select(col("_k"), col("_b"),
          (col("_rank") - (col("_cum") - col("_c"))).as("_local"),
          col("_pi"), col("_which"))

      // Keep only target-bucket rows, rank them within (key, bucket) —
      // expected n/buckets rows per key — and pick the targets. Tie
      // order inside equal values is irrelevant: any permutation of
      // equal values yields the same kth VALUE.
      val tb = targets.select("_k", "_b").distinct()
      val wr = Window.partitionBy("_k", "_b").orderBy("_v")
      val picked = bucketed.join(broadcast(tb), Seq("_k", "_b"), "left_semi")
        .withColumn("_local", row_number().over(wr))
        .join(broadcast(targets), Seq("_k", "_b", "_local"))
        .select(col("_k"), col("_pi"), col("_which"), col("_v"))
      assemble(picked)
    }
  }

  // ---------------------------------------------------------------------
  // Poisson bootstrap — one-pass uncertainty quantification
  // ---------------------------------------------------------------------

  /** Cumulative Poisson(1) probabilities scaled to the 20-bit draw
    * range: a draw u ∈ [0, 2^20) takes weight w = the CASE rank below
    * the first threshold above u. Integer thresholds make the draw a
    * LONG comparison — no float-literal matching between engines, no
    * rounding ambiguity at the cut. 20 bits resolve each weight
    * probability to within 2^-20 (the k=7 tail mass ~1.03e-5 is ~11
    * cells — representable), and 20-bit draws let THREE replicates
    * share ONE 60-bit StableHash60 digest (below) — the digest count
    * per row is what dominates the one-pass cost. */
  private[graft] val PoissonCdfThresholds: Array[Long] = {
    var p = math.exp(-1.0) // P(X = 0)
    var c = 0.0
    (0 to 7).map { k =>
      c += p
      p /= (k + 1).toDouble
      (c * (1L << 20).toDouble).toLong
    }.toArray
  }

  /** Replicates per digest: a 60-bit StableHash60 value is three
    * disjoint 20-bit windows. Replicate r draws window r % 3 (top
    * first) of digest stable_hash60(id + ":" + r / 3) — the draw is a
    * SHIFT + MASK on a long (the native hash never materializes hex,
    * and no radix-conversion expression runs; `conv(substring(md5))`
    * per replicate measured 2× the whole operator). */
  private[graft] val RepsPerDigest: Int = 3

  /** Per-key mean with a bootstrap confidence interval in ONE corpus
    * pass (Efron 1979 resampling via the Poisson approximation —
    * Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    * Streams": a bootstrap resample's multinomial row counts factor
    * into independent Poisson(1) weights, so all `replicates`
    * resamples ride the same scan as weighted sums instead of R
    * data-sized reshuffles).
    *
    * Determinism contract: replicate weights are a pure function of
    * (idCol, replicate) — replicate r takes the 20-bit window r % 3
    * (top first) of digest stable_hash60(id ":" r/3) against integer
    * CDF thresholds — so results are bit-identical across engines,
    * layouts, and reruns (the md5 stance of the minhash family; no
    * RNG, no JVM hashCode), and three replicates share one 60-bit
    * digest (the digest count per row IS the one-pass cost).
    * `valCol` must be integral: replicate sums
    * then stay EXACT LONGS and each replicate mean is one exact
    * double division; the replicate-mean spread folds in fixed array
    * order (r = 0..R-1), matching the oracle's `list_sum` fold.
    *
    * Scale shape: one scan computes 2R+2 map-side-combinable sums per
    * key (R = 32 default → 66 long columns; no row fan-out — the
    * explode formulation would ship R× the scan into the exchange);
    * everything downstream is keys-bounded row-local array math. An
    * empty resample (all weights 0 — vanishing for groups past ~30
    * rows) falls back to the point estimate, deterministically on
    * both sides.
    *
    * Output: key, n_rows, point_mean, boot_se, ci_lo/ci_hi (normal
    * ±1.96·se). */
  def poissonBootstrap(df: DataFrame, keyCol: String, valCol: String,
      idCol: String, replicates: Int = 32): DataFrame =
    bootstrapFinish(
      bootstrapCells(df, keyCol, valCol, idCol, replicates),
      keyCol, replicates)

  /** The one-pass half: per-key exact-long bootstrap sums (2R+2
    * columns). ALGEBRAIC — cells merge by addition. */
  private def bootstrapCells(df: DataFrame, keyCol: String,
      valCol: String, idCol: String, replicates: Int): DataFrame = {
    require(replicates >= 2, s"need >= 2 replicates, got $replicates")
    val vt = df.schema(valCol).dataType
    require(vt == org.apache.spark.sql.types.LongType ||
        vt == org.apache.spark.sql.types.IntegerType,
      s"poissonBootstrap needs an integral valCol for exact replicate " +
        s"sums; $valCol is $vt")
    val T = PoissonCdfThresholds
    // Digests in their own projection below the window/CASE chain: ONE
    // native md5 per (row, digest), each serving RepsPerDigest
    // replicates — the digest count per row is the operator's whole
    // cost (32 digests/row measured 22-45 s at sf1x; hex-chunk
    // extraction via conv(substring(...)) another 2×).
    val nDigests = (replicates + RepsPerDigest - 1) / RepsPerDigest
    def digest(d: Int): Column = {
      import org.apache.spark.sql.graft.CatalystBridge
      CatalystBridge.column(graft.plans.StableHash60(CatalystBridge.expr(
        concat(col(idCol).cast("string"), lit(":" + d)))))
    }
    val hashed = df.select(
      col(keyCol) +: col(valCol).cast("long").as("_x") +:
        (0 until nDigests).map(d => digest(d).as(s"_h$d")): _*)
    // Draws in a second projection so the 20-bit window extraction
    // runs once per replicate, not once per CASE branch — a shift +
    // mask on the long, allocation-free.
    val drawn = hashed.select(
      col(keyCol) +: col("_x") +:
        (0 until replicates).map(r =>
          shiftright(col(s"_h${r / RepsPerDigest}"),
            20 * (2 - r % RepsPerDigest))
            .bitwiseAND(lit(0xFFFFFL)).as(s"_u$r")): _*)
    def weight(r: Int): Column =
      T.zipWithIndex.foldRight(lit(T.length): Column) {
        case ((t, k), rest) => when(col(s"_u$r") < t, k).otherwise(rest)
      }.cast("long")
    val weighted = drawn.select(
      col(keyCol) +: col("_x") +:
        (0 until replicates).map(r => weight(r).as(s"_w$r")): _*)
    val aggs =
      sum(col("_x")).as("_sx") +: count(lit(1)).as("n_rows") +:
        (0 until replicates).flatMap(r => Seq(
          sum(col(s"_w$r") * col("_x")).as(s"_swx$r"),
          sum(col(s"_w$r")).as(s"_sw$r")))
    weighted.groupBy(keyCol).agg(aggs.head, aggs.tail: _*)
  }

  /** The row-local half: replicate means → se → normal CI. Pure
    * projection over [[bootstrapCells]] output — no aggregation. */
  private def bootstrapFinish(cells: DataFrame, keyCol: String,
      replicates: Int): DataFrame = {
    val point = col("_sx").cast("double") / col("n_rows")
    val means = array((0 until replicates).map { r =>
      when(col(s"_sw$r") === 0L, point)
        .otherwise(col(s"_swx$r").cast("double") / col(s"_sw$r"))
    }: _*)
    val withMs = cells.withColumn("_ms", means)
    val mbar = aggregate(col("_ms"), lit(0.0),
      (acc, x) => acc + x) / replicates
    val se = sqrt(aggregate(
      transform(col("_ms"), m => (m - mbar) * (m - mbar)),
      lit(0.0), (acc, x) => acc + x) / (replicates - 1))
    withMs.select(col(keyCol), col("n_rows"),
      gf.roundz(point, 6).as("point_mean"),
      gf.roundz(se, 6).as("boot_se"),
      gf.roundz(point - lit(1.96) * se, 6).as("ci_lo"),
      gf.roundz(point + lit(1.96) * se, 6).as("ci_hi"))
  }
}
