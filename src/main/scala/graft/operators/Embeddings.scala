package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-matrix statistics and full-corpus k-means. The corpus
  * covariance comes out of ONE pass — the QA kernel run before ANN
  * index builds (mis-scaled encoders, correlated dimensions and
  * collapsed representations all show up here first; q130).
  *
  * Scale shape: the whole covariance reduction is
  * [[graft.plans.VecOuterSum]] — O(dim²) state per partition,
  * cell-wise-add merge, one emitted row; the dim×dim matrix is
  * driver-trivial (64×64 = 32 KB).
  */
object Embeddings {

  final case class CovStats(n: Long, dim: Int,
      mean: Array[Double], cov: Array[Double] /* row-major dim×dim */)

  /** The one-row covariance reduction. */
  def covStatsCol(vec: Column): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.VecOuterSum(
        org.apache.spark.sql.graft.CatalystBridge.expr(vec)))

  /** Run the reduction and collect the single stats row. */
  def covStats(df: DataFrame, vecCol: String): CovStats = {
    val row = df.agg(covStatsCol(col(vecCol)).as("s"))
      .select(col("s.n"), col("s.dim"), col("s.mean"), col("s.cov"))
      .collect()(0)
    CovStats(row.getLong(0), row.getInt(1),
      row.getSeq[Double](2).toArray, row.getSeq[Double](3).toArray)
  }

  // ---------------------------------------------------------------------
  // Distributed full-corpus k-means (Lloyd 1957/1982) — deterministic
  // ---------------------------------------------------------------------

  /** Trained full-corpus model. `centroids` pairs each surviving
    * cluster id (its seed position in md5 order) with its centroid;
    * clusters emptied during training drop (the
    * [[Similarity.trainCentroids]] stance). */
  final case class KMeansModel(centroids: Array[(Int, Array[Double])]) {
    def k: Int = centroids.length
  }

  /** Fixed-point scale for centroid/inertia accumulation: element
    * sums ship as `floor(x · 2^20)` longs, so every distributed sum is
    * EXACT INTEGER arithmetic — the same weights at any partitioning,
    * layout, or engine (the T112 gradient stance applied to
    * clustering). 2^20 leaves 2^43 of headroom above unit-scale
    * coordinates: ~10^12 rows per cluster before overflow. */
  val KMeansScale: Double = (1L << 20).toDouble

  /** Full-corpus Lloyd k-means, unlike [[Similarity.trainCentroids]]
    * (which fits on a bounded driver sample — the index-build shape):
    * EVERY row votes in every iteration — the corpus-bucketing
    * operator (SemDedup-style cluster-then-dedup, topic sharding,
    * stratified mixing all start from exactly this).
    *
    * Determinism contract: seeds are the k smallest `md5(id)` vectors
    * (layout-independent); assignment is the lexicographic min of
    * (squared-L2, cluster) — ties to the lowest cluster id; per-cluster
    * element sums accumulate as [[KMeansScale]] fixed-point longs, so
    * the updated centroids are bit-identical under any partitioning
    * and exactly reproducible in the DuckDB oracle (q148 unrolls the
    * same iterations in SQL).
    *
    * Scale shape: each iteration is ONE corpus pass — k codegen'd dot
    * products per row ([[Similarity.dot]] against literal centroids),
    * an `array_min` pick (no explode, no window), and a
    * (k × dim)-bounded partial-aggregated shuffle; driver state is
    * k × dim longs per iteration. The iteration count is FIXED —
    * convergence reads would put the driver in the loop (the q121
    * TextRank stance). The corpus projection persists once across the
    * `iters` passes and unpersists on exit. */
  def kmeansFit(df: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): KMeansModel = {
    require(k >= 1 && iters >= 1, s"need k >= 1, iters >= 1: $k, $iters")
    val v = graft.CacheRegistry.persistTracked(
      df.select(col(idCol).as("_id"),
        transform(col(embCol), x => x.cast("double")).as("e")),
      graft.CacheRegistry.DataSized)
    try {
      val seeds = v.withColumn("_h", md5(col("_id").cast("string")))
        .orderBy("_h", "_id").limit(k)
        .select("e").collect()
        .map(_.getSeq[Double](0).toArray)
      require(seeds.nonEmpty,
        "kmeansFit: empty corpus — nothing to seed from")
      val dim = seeds.head.length
      var cents: Array[(Int, Array[Double])] =
        seeds.zipWithIndex.map { case (c, i) => (i, c) }
      for (_ <- 1 to iters) {
        cents = clusterCensus(assign(v, cents), dim)
          .sortBy(_._1)
          .map { case (cl, n, sums) =>
            (cl, sums.map(_.toDouble / (n * KMeansScale)))
          }
      }
      KMeansModel(cents)
    } finally v.unpersist(blocking = false)
  }

  /** JVM-wide model cache — the [[Similarity.indexFor]] stance applied
    * to clustering: a corpus's k-means trains ONCE per JVM, shared by
    * every session, after which every consumer (the q148 census, the
    * q152 quality gate) reuses the fitted model. Driver-side k × dim
    * doubles per entry; at 100 TB the fit is a multi-pass corpus job
    * you do not want to pay per query. Keyed by caller-supplied name,
    * which must change when the data does: the callers key on
    * [[graft.sources.SharedTable.indexName]], which carries the
    * source table's file fingerprint, so a corpus rewritten in place
    * refits. A hit is safe because [[kmeansFit]] is deterministic —
    * it is bit-identical to a refit. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, KMeansModel]()

  def modelFor(df: DataFrame, key: String, k: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): KMeansModel =
    modelCache.computeIfAbsent(key,
      _ => kmeansFit(df, k, iters, idCol, embCol))

  /** Drop all memoized models — the layout-fuzz harness
    * ([[graft.VerifyFuzz]]) calls this between runs so every pass
    * re-derives the fit instead of replaying a cached one (a cache hit
    * would hide fit-path non-determinism from the fuzz). */
  def clearModelCache(): Unit = modelCache.clear()

  /** One assignment pass under a trained model: (idCol, cluster, d2)
    * with d2 the squared L2 to the assigned centroid — the SAME
    * expression shape the oracle computes (|x|² − 2·x·c + |c|², each
    * term a sequential fold), so the doubles agree bit-for-bit. */
  def kmeansAssign(df: DataFrame, model: KMeansModel,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("_id"),
      transform(col(embCol), x => x.cast("double")).as("e"))
    assign(v, model.centroids)
      .select(col("_id").as(idCol), col("cl").as("cluster"), col("d2"))
  }

  /** One fused census pass under the current assignment: per surviving
    * cluster, (cl, n, per-dim fixed-point coordinate sums) — counts and
    * sums come from ONE aggregate over ONE corpus pass (r16; the old
    * shape paid a posexplode-keyed sum pass plus a separate count pass,
    * re-running the k-dot-product assignment for each). The embedding
    * dim is known to every caller, so each element sums in its own
    * buffer slot (`element_at`) instead of generating dim rows per
    * vector; the shuffle stays (k × (dim+1))-bounded and all arithmetic
    * is the same exact fixed-point integer addition. */
  private def clusterCensus(assigned: DataFrame, dim: Int)
      : Array[(Int, Long, Array[Long])] = {
    val sums = (0 until dim).map(i =>
      coalesce(sum(floor(element_at(col("e"), i + 1) * KMeansScale)),
        lit(0L)).as(s"_s$i"))
    assigned.groupBy("cl")
      .agg(count(lit(1)).as("_n"), sums: _*)
      .collect()
      .map { r =>
        (r.getInt(0), r.getLong(1), Array.tabulate(dim)(i => r.getLong(i + 2)))
      }
  }

  /** Per-row nearest centroid: array_min over (d2, cl) structs — the
    * lexicographic struct min IS the (d2 asc, cl asc) rank-1 row,
    * with no explode and no window. Centroid arrays and their norms
    * ride the plan as literals (k · dim doubles — bounded). The row's
    * own |x|² is hoisted to one column so the k branches share it
    * instead of re-deriving the dot per centroid. */
  private def assign(v: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val structs = cents.map { case (cl, c) =>
      val cn2 = c.foldLeft(0.0)((a, x) => a + x * x) // sequential = list_sum
      struct(
        (col("_xn2")
          - lit(2.0) * Similarity.dot(col("e"), typedlit(c.toSeq))
          + lit(cn2)).as("d2"),
        lit(cl).as("cl"))
    }
    // explode(array(...)) Generate barrier (r16): joins on the output
    // infer isnotnull(cl), which would otherwise inline this whole
    // k-dot-product pick into a pushed filter and run it twice per
    // row (q152's shape; guide §4.4 duplication).
    v.withColumn("_xn2", Similarity.dot(col("e"), col("e")))
      .withColumn("_b", explode(array(array_min(array(structs: _*)))))
      .select(col("_id"), col("e"),
        col("_b.cl").as("cl"), col("_b.d2").as("d2"))
  }
}
