package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{functions => gf}
import org.apache.spark.sql.graft.CatalystBridge

/** Product quantization for embedding columns (Jégou–Douze–Schmid,
  * TPAMI 2011): train per-subspace codebooks on a bounded sample,
  * encode every corpus vector to `m` bytes, and answer top-k queries
  * by ADC (asymmetric distance — exact query against quantized corpus)
  * without ever touching the original floats.
  *
  * Why it exists next to [[Similarity]]'s IVF path: IVF prunes WHICH
  * vectors a query scans; PQ shrinks WHAT each scanned vector costs —
  * m bytes + m table lookups instead of d floats + d multiplies. At
  * 100 TB the two compose (scan the probed bucket's codes), but each
  * is independently useful and independently testable.
  *
  * Scale contract:
  *   - TRAIN is driver-local Lloyd on an md5-ordered sample of
  *     ≤ `trainN` vectors (deterministic: no RNG, no partition order —
  *     same sample, same init, same FP summation order on any layout).
  *     The collect is explicitly bounded (`trainN` ≤ 65536, the FAISS
  *     stance: codebooks train on samples, never the corpus).
  *   - ENCODE is one codegen'd per-row pass ([[graft.plans.PqEncode]],
  *     codebook as a codegen reference) — no shuffle, no UDF.
  *   - TOPK never collects the corpus: per-query lookup tables are
  *     computed row-wise on the (bounded, broadcast) query side
  *     ([[graft.plans.PqDistTable]]), the scan scores m lookups per
  *     row ([[graft.plans.PqAdcScore]]), and ranking is the standard
  *     per-key top-k (TopKPerKey-eligible window).
  */
object Pq {

  /** Trained codebook: subspace `j`, code `c`, component `t` at
    * `cents((j * ksub + c) * dsub + t)`. */
  final case class Codebook(m: Int, dsub: Int, ksub: Int,
      cents: Array[Double]) {
    def dim: Int = m * dsub
    /** Decoded (reconstructed) subvector centroid for (j, c). */
    def centroid(j: Int, c: Int): Array[Double] = {
      val off = (j * ksub + c) * dsub
      java.util.Arrays.copyOfRange(cents, off, off + dsub)
    }
    /** Reconstruct a full vector from an m-byte code. */
    def decode(code: Array[Byte]): Array[Double] = {
      require(code.length == m, s"pq decode: code ${code.length} != $m")
      val out = new Array[Double](m * dsub)
      var j = 0
      while (j < m) {
        System.arraycopy(cents, (j * ksub + (code(j) & 0xFF)) * dsub,
          out, j * dsub, dsub)
        j += 1
      }
      out
    }
  }

  private val MaxTrainN = 65536

  /** Deterministic per-subspace Lloyd on a bounded md5-ordered sample.
    * Init: the first `ksub` DISTINCT subvectors in sample order (if
    * the sample has fewer distinct subvectors, the tail of the
    * codebook repeats the last distinct one — harmless: duplicate
    * centroids never win an argmin against their earlier twin because
    * ties break to the smallest code). Empty clusters keep their
    * previous centroid (the standard fix that keeps k stable). */
  def train(corpus: DataFrame, m: Int, ksub: Int,
      trainN: Int = 1024, iters: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding"): Codebook = {
    require(m >= 1, s"pq train: m must be >= 1: $m")
    require(ksub >= 1 && ksub <= 256, s"pq train: ksub must be 1..256: $ksub")
    require(trainN >= ksub && trainN <= MaxTrainN,
      s"pq train: trainN must be in [$ksub, $MaxTrainN]: $trainN")
    val sample = corpus
      .filter(col(embCol).isNotNull) // null vectors can't train (loud NPE otherwise)
      .select(col(idCol).cast("string").as("id"),
        col(embCol).cast("array<double>").as("e"))
      .withColumn("h", md5(col("id")))
      .orderBy("h")
      .limit(trainN)
      .select("e")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pq train: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pq train: dim $dim not divisible by m=$m")
    require(sample.forall(_.length == dim),
      "pq train: ragged embedding dimensions")
    val dsub = dim / m
    val cents = new Array[Double](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val subs: Array[Array[Double]] =
        sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // init: first ksub distinct subvectors in sample order
      val init = new scala.collection.mutable.ArrayBuffer[Array[Double]]
      val seen = new scala.collection.mutable.HashSet[Seq[Double]]
      var i = 0
      while (i < subs.length && init.length < ksub) {
        val key = subs(i).toSeq
        if (!seen.contains(key)) { seen += key; init += subs(i) }
        i += 1
      }
      while (init.length < ksub) init += init.last.clone()
      var cent: Array[Array[Double]] = init.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        var s = 0
        while (s < subs.length) {
          val v = subs(s)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var t = 0
            while (t < dsub) {
              val diff = v(t) - cent(c)(t); d += diff * diff; t += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var t = 0
          while (t < dsub) { sums(best)(t) += v(t); t += 1 }
          counts(best) += 1
          s += 1
        }
        cent = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cent(c)
          else {
            val out = new Array[Double](dsub)
            var t = 0
            while (t < dsub) { out(t) = sums(c)(t) / counts(c); t += 1 }
            out
          }
        }
        it += 1
      }
      var c = 0
      while (c < ksub) {
        System.arraycopy(cent(c), 0, cents, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    Codebook(m, dsub, ksub, cents)
  }

  /** Column-level encode: vector → m-byte code (codegen'd). */
  def encodeCol(vec: Column, cb: Codebook): Column =
    CatalystBridge.column(graft.plans.PqEncode(
      CatalystBridge.expr(vec), cb.cents, cb.m, cb.ksub, cb.dsub))

  /** Per-query ADC lookup table column (m·ksub doubles). */
  def distTableCol(vec: Column, cb: Codebook): Column =
    CatalystBridge.column(graft.plans.PqDistTable(
      CatalystBridge.expr(vec), cb.cents, cb.m, cb.ksub, cb.dsub))

  /** ADC score column: approximate ‖q − x‖² from (code, table). */
  def adcCol(code: Column, table: Column, cb: Codebook): Column =
    CatalystBridge.column(graft.plans.PqAdcScore(
      CatalystBridge.expr(code), CatalystBridge.expr(table), cb.ksub))

  /** Encode a corpus: adds `codeCol` (m bytes per row), drops nothing. */
  def encode(corpus: DataFrame, cb: Codebook,
      embCol: String = "embedding", codeCol: String = "pq_code"): DataFrame =
    corpus.withColumn(codeCol, encodeCol(col(embCol), cb))

  /** Approximate top-k: for every query, the `k` corpus codes with the
    * smallest ADC distance (ties by id — fully deterministic). The
    * query side is broadcast with its lookup tables computed row-wise;
    * the corpus side streams codes through one codegen'd scan. Output:
    * (qid, idCol, adc, rank). */
  def topK(codes: DataFrame, queries: DataFrame, cb: Codebook, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      codeCol: String = "pq_code"): DataFrame = {
    val qt = queries.select(col(idCol).as("qid"),
      distTableCol(col(embCol).cast("array<double>"), cb).as("tbl"))
    val rw = Window.partitionBy("qid").orderBy(asc("adc"), asc(idCol))
    codes
      // a null code (null embedding) has no distance — without this it
      // would sort FIRST under asc() and displace a real neighbor
      .filter(col(codeCol).isNotNull)
      .join(broadcast(qt), lit(true))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        gf.roundz(adcCol(col(codeCol), col("tbl"), cb), 6).as("adc"))
      // rank stays IntegerType and the bound an Int literal so
      // TopKRewriteRule's RankLimit pattern fires (bounded per-key heap,
      // not a full per-qid sort)
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= lit(k))
  }

  /** IVFADC — the IVF × PQ composition (Jégou–Douze–Schmid TPAMI'11
    * §IV, the standard billion-scale layout): the IVF coarse quantizer
    * prunes WHICH vectors a query scans (only the `nprobe` nearest
    * buckets' members), the PQ codes shrink WHAT each scanned vector
    * costs (m byte-lookups instead of d multiplies on 32× less data).
    * Per query the candidate volume is nprobe·N/nlist rows of m bytes —
    * with √N sizing ([[Similarity.sqrtNlist]]) that is O(√N) scanned
    * BYTES per query at any corpus size.
    *
    * Buckets come from [[Similarity.trainCentroids]]/
    * [[Similarity.assignToCentroids]] (cosine coarse quantizer, the
    * engine's IVF contract); in-bucket ranking is ADC L2 — the same
    * mixed-metric stance as [[topK]], deterministic ties by id.
    * Output: (qid, idCol, adc, rank). */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, cb: Codebook,
      k: Int, nCentroids: Int = 16, nprobe: Int = 2,
      trainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (cent, codes) = ivfEncode(
      corpus, cb, nCentroids, trainN, iters, idCol, embCol)
    ivfAdcProbe(codes, cent, queries, cb, k, nprobe, idCol, embCol)
  }

  /** Null-safe (id, e: array<double>, nrm) projection — the shared
    * preamble of both index builds. Null vectors can neither seed the
    * coarse quantizer (a null centroid silently shrinks nlist) nor
    * encode, so they are dropped up front. */
  private def cleanPrepped(corpus: DataFrame,
      idCol: String, embCol: String): (DataFrame, DataFrame) = {
    val clean = corpus.filter(col(embCol).isNotNull)
    val prepped = clean.select(col(idCol),
        transform(col(embCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", Similarity.norm(col("e")))
    (clean, prepped)
  }

  /** Shared (qid, qe, qn) query projection. */
  private def prepQueries(queries: DataFrame,
      idCol: String, embCol: String): DataFrame =
    queries.select(col(idCol).as("qid"),
        transform(col(embCol), x => x.cast("double")).as("qe"))
      .withColumn("qn", Similarity.norm(col("qe")))

  /** Shared scan/rank tail of both probes: join the (qid, tbl, bucket)
    * probe frame against the coded corpus — only probed buckets scan —
    * ADC-score, rank, cut at k. Tie/round/null semantics live HERE so
    * the raw and residual paths can never drift. */
  private def adcRank(codes: DataFrame, probes: DataFrame, cb: Codebook,
      k: Int, idCol: String): DataFrame = {
    val rw = Window.partitionBy("qid").orderBy(asc("adc"), asc(idCol))
    codes.join(broadcast(probes), Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        gf.roundz(adcCol(col("pq_code"), col("tbl"), cb), 6).as("adc"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= lit(k))
  }

  /** The index-build half of [[ivfAdcTopK]]: train the coarse
    * quantizer, assign, PQ-encode. Returns (centroids, codes) where
    * codes = (idCol, bucket, pq_code) — persist/bucket these once and
    * probe many times (the 100 TB shape, as [[Similarity.buildIndex]]
    * does for exact IVF). */
  def ivfEncode(corpus: DataFrame, cb: Codebook,
      nCentroids: Int = 16, trainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val (clean, prepped) = cleanPrepped(corpus, idCol, embCol)
    val cent = Similarity.trainCentroids(
      clean, nCentroids, trainN, iters, idCol, embCol)
    val assigned = Similarity.assignToCentroids(prepped, cent, idCol)
    // cleanPrepped already dropped null embeddings, so codes are
    // never null; an isNotNull filter here would push a duplicated
    // PqEncode below the projection (guide s4.4 duplication, r16)
    val codes = assigned
      .select(col(idCol), col("bucket"), encodeCol(col("e"), cb).as("pq_code"))
    (cent, codes)
  }

  /** The query half of [[ivfAdcTopK]] over a pre-built (cent, codes)
    * pair from [[ivfEncode]]: ADC table once per query, probes by
    * centroid cosine (the SHARED coarse-quantizer probe —
    * [[Similarity.probeBuckets]] — so probe semantics can never drift
    * from the exact IVF path). */
  def ivfAdcProbe(codes: DataFrame, cent: DataFrame, queries: DataFrame,
      cb: Codebook, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = prepQueries(queries, idCol, embCol)
      .withColumn("tbl", distTableCol(col("qe"), cb))
    adcRank(codes, Similarity.probeBuckets(q, cent, nprobe, Seq("tbl")),
      cb, k, idCol)
  }

  /** Full IVFADC build with RESIDUAL encoding (TPAMI'11 §IV-A: codes
    * quantize x − q₁(x), the displacement inside the coarse cell, not
    * the raw coordinates — residuals concentrate near zero, so the
    * same m bytes spend their resolution on the part of x the coarse
    * quantizer didn't already explain). Trains the coarse quantizer
    * (or reuses a pre-trained one via `cent`), assigns, trains the PQ
    * codebook ON THE RESIDUALS, encodes. The residual frame is
    * persisted across the train-sample and encode passes — the
    * full-corpus assignment runs ONCE, not once per consumer.
    * Returns (centroids, codebook, codes) — persist the codes once,
    * probe with [[ivfPqProbe]]. */
  def ivfPqBuild(corpus: DataFrame, m: Int, ksub: Int,
      nCentroids: Int = 16, pqTrainN: Int = 1024,
      centTrainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding",
      cent: Option[DataFrame] = None)
      : (DataFrame, Codebook, DataFrame) = {
    val (clean, prepped) = cleanPrepped(corpus, idCol, embCol)
    cent.foreach { c =>
      // nCentroids/centTrainN/iters are ignored when a pre-trained
      // quantizer is supplied — at least fail fast on the wrong shape
      require(Seq("cent_id", "ce", "cn").forall(c.columns.contains),
        s"pre-trained cent must have (cent_id, ce, cn), got " +
          c.columns.mkString("(", ", ", ")"))
    }
    val centroids = cent.getOrElse(Similarity.trainCentroids(
      clean, nCentroids, centTrainN, iters, idCol, embCol))
    // CacheRegistry-tracked (DataSized: one row per corpus vector).
    // Reclamation: the query path arms+drains it automatically; a
    // DIRECT caller must CacheRegistry.drain() once its codes are
    // materialized (repeated un-drained builds would accumulate a
    // corpus-sized cache per call)
    val residuals = graft.CacheRegistry.persistTracked(
      Similarity.assignToCentroids(prepped, centroids, idCol)
        .join(broadcast(centroids), col("bucket") === col("cent_id"))
        .select(col(idCol), col("bucket"),
          zip_with(col("e"), col("ce"), (a, b) => a - b).as("res")),
      graft.CacheRegistry.DataSized)
    val cb = train(residuals, m, ksub, pqTrainN, iters = 8, idCol, "res")
    // residuals are zip_with of two non-null arrays (cleanPrepped +
    // broadcast centroids), so codes are never null — same r16 note
    val codes = residuals
      .select(col(idCol), col("bucket"), encodeCol(col("res"), cb).as("pq_code"))
    (centroids, cb, codes)
  }

  /** Query half of the residual-coded index from [[ivfPqBuild]]: each
    * probed (query, bucket) pair gets its OWN ADC table, built from
    * the query's residual against that bucket's centroid (qe − ce) —
    * m·ksub·nprobe driver-free arithmetic per query, all on the
    * broadcast side. Output: (qid, idCol, adc, rank). */
  def ivfPqProbe(codes: DataFrame, cent: DataFrame, queries: DataFrame,
      cb: Codebook, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = prepQueries(queries, idCol, embCol)
    val probes = Similarity.probeBuckets(q, cent, nprobe, Seq("qe", "ce"))
      .select(col("qid"), col("bucket"),
        distTableCol(zip_with(col("qe"), col("ce"), (a, b) => a - b), cb)
          .as("tbl"))
    adcRank(codes, probes, cb, k, idCol)
  }
}
