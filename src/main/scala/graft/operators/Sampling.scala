package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{functions => gf}

/** Dataset splitting and sampling for training pipelines.
  *
  *   - [[hashSplit]]: deterministic, engine-independent train/val/test
  *     assignment from a stable content/id hash — the same row lands in
  *     the same split on every engine, every run, at any partitioning
  *     (unlike `rand()`-based splits, which depend on partition layout).
  *     Buckets are `hash mod 100`: [0, trainPct) → train,
  *     [trainPct, trainPct+valPct) → val, rest → test.
  */
object Sampling {

  def splitBucket(id: Column): Column = gf.stableHash(id.cast("string")) % 100

  def hashSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must be <= 100")
    val b = splitBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic WEIGHTED sampling per stratum — Efraimidis–Spirakis
    * A-Res with hash-derived uniforms: each row draws
    * u = (lcg(id) + 1) / (2^31 + 1) ∈ (0, 1) from a fixed LCG of its
    * id (no RNG state, engine- and layout-independent), scores
    * key = ln(u) / w (monotone in the textbook u^(1/w)), and the m
    * LARGEST keys per stratum win — rows with bigger weights
    * systematically draw better keys, the exact weighted-reservoir
    * semantics, reproducibly. Scale shape: per-row arithmetic + the
    * two-phase bounded-heap [[graft.plans.TopKPerKey]] — no sort, no
    * shuffle beyond m rows per stratum per map task. `idCol` must fit
    * in 31 bits for the LCG product to stay in long range (shift/fold
    * wider ids first). */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, m: Int): DataFrame = {
    require(m >= 1, s"sample size m must be >= 1: $m")
    val u = (pmod(col(idCol).cast("long") * 1103515245L + 12345L,
      lit(2147483648L)) + 1L).cast("double") / 2147483649.0
    val key = log(u) / col(weightCol).cast("double")
    val keyed = df.withColumn("__skey", key)
    graft.plans.TopKPerKey(keyed, Seq(stratumCol),
        Seq(graft.plans.TopKPerKey.desc("__skey"),
          graft.plans.TopKPerKey.asc(idCol)), m)
      .select(df.columns.map(col) :+ col("__skey"): _*)
  }

  /** Token-BUDGET carve: per stratum, keep rows in deterministic
    * `(md5(id), id)` order while the running token sum stays within
    * `budget` (a row is kept iff its INCLUSIVE prefix sum ≤ budget) —
    * how a training mix is assembled to a per-source token budget
    * rather than a row quota (q107). Same determinism
    * story: engine- and layout-independent. Scale shape: one
    * per-stratum window prefix sum — strata sort in parallel,
    * spill-capable; no driver state. */
  def tokenBudget(df: DataFrame, stratumCol: String, idCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") <= budget)
      .select(df.columns.map(col): _*)
  }

  /** Deterministic corpus mixing: keep each row at its group's target
    * rate, decided by the stable id hash — the sampling-by-weights
    * step that composes a training mix from heterogeneous sources
    * (web 10%, books 100%, …). Same guarantees as [[hashSplit]]:
    * engine-independent, layout-independent, and a row's fate never
    * changes as other rows come and go. Rates are applied at 1/10000
    * granularity; one filter, no shuffle, no RNG. */
  def weightedMix(df: DataFrame, groupCol: String, idCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val bucket = gf.stableHash(col(idCol).cast("string")) % 10000
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    // round, not truncate: 0.29 * 10000 is 2899.999… in doubles and a
    // cast would silently keep one fewer bucket than the documented
    // 1/10000 granularity.
    df.filter(bucket < round(rateCol * 10000).cast("long"))
  }

  /** Per-group acceptance-THRESHOLD frame for [[temperatureSample]] —
    * exposed so census queries (q175) can oracle-gate the operator's
    * arithmetic directly instead of re-deriving it inline. One row per
    * distinct `groupCol` value (a NULL group is a group like any
    * other), columns `(groupCol, n, nn, z, zt, b, thr)`:
    * n = group count, nn = corpus count, z = floor(p^α·1e9) as an
    * EXACT long (quantized BEFORE the bounded normalization sum so the
    * rates are bit-identical at any fold order), zt = Σz,
    * b = budgetOf(nn) (the document budget — a literal, or derived
    * from the corpus count, e.g. `shiftright(_, 1)` for B = N/2),
    * thr = floor(min(1, b·z/zt/n)·2^60) — the [[hashSplit]]-style
    * acceptance threshold (min(1, ·) caps oversampling: a source
    * whose quota exceeds its size is taken whole, never replicated).
    *
    * α handling (the q175/T139 cross-engine stance): α = 0.5 → `sqrt`
    * and α = 0.25 → `sqrt∘sqrt` (sqrt is IEEE-correctly-rounded in
    * every engine; `pow(x, 0.5)` is only 1-ulp-accurate, and a 1-ulp
    * wobble crosses the floor(·1e9) quantization boundary); α = 1 →
    * p itself; any other α → `pow` — deterministic within the engine,
    * documented NOT cross-engine-exact.
    *
    * Scale: one group-keyed count (map-side combinable) + two
    * 1-row/bounded-frame lazy-total broadcasts — no collect, no sort,
    * no data-sized state. */
  def temperatureThresholds(df: DataFrame, groupCol: String,
      alpha: Double, budgetOf: Column => Column): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0: $alpha")
    val src = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val tot = src.agg(sum("n").cast("long").as("nn"))
    val p = col("n").cast("double") / col("nn").cast("double")
    val pa = alpha match {
      case 0.5  => sqrt(p)
      case 0.25 => sqrt(sqrt(p))
      case 1.0  => p
      case a    => pow(p, lit(a))
    }
    val zq = src.crossJoin(broadcast(tot))
      .withColumn("z", floor(pa * lit(1000000000.0)).cast("long"))
    val zz = zq.agg(sum("z").cast("long").as("zt"))
    zq.crossJoin(broadcast(zz))
      .withColumn("b", budgetOf(col("nn")).cast("long"))
      .withColumn("thr",
        floor(least(lit(1.0),
          col("b").cast("double") * col("z").cast("double")
            / col("zt").cast("double") / col("n").cast("double"))
          * lit(1152921504606846976.0)).cast("long"))
  }

  /** Apply a precomputed [[temperatureThresholds]] frame: accept iff
    * stableHash(id) < thr of the row's group. The group match is
    * NULL-SAFE (`<=>`), so a NULL group — which the census counted
    * into `nn` — participates with its own threshold instead of
    * silently losing its budget to a non-matching equality. Output
    * keeps the input's columns. */
  def temperatureSampleWith(df: DataFrame, groupCol: String,
      idCol: String, thresholds: DataFrame): DataFrame = {
    val thr = thresholds.select(col(groupCol).as("__g"),
      col("thr").as("__thr"))
    df.join(broadcast(thr), df(groupCol) <=> col("__g"))
      .filter(gf.stableHash(col(idCol).cast("string")) < col("__thr"))
      .select(df.columns.map(df(_)): _*)
  }

  /** TEMPERATURE-scaled source sampling (α-sampling: Conneau &
    * Lample 2019 §3.1, XLM; Raffel et al. 2020 mT5's language
    * balancing — public knowledge): flatten a skewed source mix by
    * sampling source s with probability ∝ p_s^α (α < 1 boosts small
    * sources, α = 1 is natural, α = 0 is uniform), to a total budget
    * of `budget` documents in expectation. Unlike [[weightedMix]],
    * the rates are computed FROM the corpus
    * ([[temperatureThresholds]] — a bounded group-keyed aggregate,
    * never collected), then applied with the [[hashSplit]]
    * determinism story: accept iff stableHash(id) < floor(r_s·2^60)
    * — a row's fate depends only on its own id and its source's
    * aggregate count, independent of engine, layout, or unrelated
    * rows. r_s = min(1, B·q_s/n_s) caps oversampling at 1 (no
    * replication — matching the without-replacement reading; a
    * source whose quota exceeds its size is taken whole).
    *
    * q175 pins the α = 0.5 cross-engine contract BY CALLING
    * [[temperatureThresholds]]/[[temperatureSampleWith]] (sqrt is
    * IEEE-correctly-rounded in every engine; the per-source sqrt(p_s)
    * quantizes to floor(·1e9) exact longs before the bounded
    * normalization sum, so the rates are bit-identical at any fold
    * order). α ∉ {0.25, 0.5, 1} is deterministic within the engine
    * (`pow`) but not oracle-gated. */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    temperatureSampleWith(df, groupCol, idCol,
      temperatureThresholds(df, groupCol, alpha, _ => lit(budget)))
  }

  /** Deterministic seeded EPOCH SHUFFLE: the corpus in a pseudo-random
    * total order keyed by `stableHashSeeded(seed, id)` — "shuffle the
    * dataset between training epochs" as a reproducible sort, not an
    * engine-dependent rand(). Changing the seed re-permutes; the same
    * seed yields the same order on any engine, layout, or partition
    * count (the q58 stance applied to ORDER instead of membership).
    *
    * Scale: the hash key is uniform on [0, 2⁶⁰) BY CONSTRUCTION, so
    * the total sort needs neither RangePartitioner's sample pass (an
    * extra execution of the child) nor a side frame for
    * [[RangeSort.weightedBounds]] — the split bounds are pure
    * arithmetic (even slices of the hash space, balanced in
    * expectation like any hash partitioning) and the sort is ONE
    * shuffle + per-partition external sorts. Output partition i holds
    * hash-range slice i in order, so partition-ordered readers (part
    * files, toLocalIterator) see the full permutation contract.
    * Ties (hash collisions) break by the id itself. */
  def epochShuffle(df: DataFrame, seed: String, idCol: String,
      parts: Int = 32): DataFrame = {
    require(parts > 0, s"parts must be positive: $parts")
    val h = gf.stableHashSeeded(lit(seed), col(idCol).cast("string"))
    val space = 1L << 60
    // SortedBucket bounds are upper-INCLUSIVE, so bound i = the last
    // hash of slice i — partition i is then EXACTLY the floor-division
    // slice h*parts/space (the contract q137's oracle checks); the
    // unshifted (i+1)·slice form would put an exact-boundary hash one
    // partition early
    val bounds = Array.tabulate(parts - 1)(i =>
      (i + 1).toLong * (space / parts) - 1)
    RangeSort.sortedByBounds(
        df.withColumn("__epoch_h", h),
        col("__epoch_h"), bounds, Seq(col(idCol)))
      .drop("__epoch_h")
  }
}
