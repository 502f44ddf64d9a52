package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized MinHash + LSH banding — the candidate-pair generator
  * behind the near-dup family (q28 pair listing, q64 clustering, q125
  * fuzzy census, q156 precision census run it pinned at (16, 4, 4)
  * for oracle replication), with (nHashes, bands, rowsPerBand) as
  * parameters.
  *
  * Determinism: shingles hash once through the 60-bit md5-prefix
  * [[graft.plans.StableHash60]]; the per-function values derive by
  * integer arithmetic `mh_i = min((A_i·(h mod P) + B_i) mod P)`,
  * P = 2^31−1, Knuth-multiplier constants — bit-identical at any
  * layout or engine (products < 2^62, BIGINT-safe in SQL oracles).
  *
  * Scale shape: one explode + one doc-keyed aggregate builds
  * signatures (map-side-combined mins); banding is ONE pass over the
  * signature frame (array-of-structs explode, never a per-band
  * re-aggregation); candidate pairs come from in-bucket array
  * combinations (no self-join — a join would re-evaluate the whole
  * shingle+minhash chain per side). Dup-heavy corpora must collapse
  * to distinct content FIRST (the q125/q156 lesson) — identical texts
  * share signatures, so the banding cost then tracks distinct
  * content while member pairs expand arithmetically.
  */
object MinHashLsh {

  val P: Long = 2147483647L // 2^31 - 1 (prime)

  /** Universal-hash family constants (Knuth 2654435761 multiplier) —
    * the SAME values TextQueries interpolates into the DuckDB oracles. */
  def hashA(i: Int): Long = ((i + 1) * 2654435761L) % P
  def hashB(i: Int): Long = (i * 40503L + 7L) % P

  /** 3-token shingles, deduped, via the native codegen'd
    * [[graft.plans.ShingleTokens]]. The repartition fans the (often
    * single-file) scan out BEFORE the explode + n-hash aggregation. */
  def shingles(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.CatalystBridge.column(
          graft.plans.ShingleTokens(
            org.apache.spark.sql.graft.CatalystBridge.expr(trim(col("text"))),
            3))).as("tok"))

  private def shingleHash(tok: Column): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.StableHash60(
        org.apache.spark.sql.graft.CatalystBridge.expr(tok)))

  /** (doc_id, mh0..mh{n-1}) minhash signatures. Docs with < 3 tokens
    * yield no shingles and therefore NO signature row (the q125 gate's
    * documented semantics). */
  def signatures(docs: DataFrame, nHashes: Int): DataFrame = {
    require(nHashes >= 1, s"need nHashes >= 1: $nHashes")
    val aggs = (0 until nHashes).map { i =>
      min((col("h") * hashA(i) + hashB(i)) % P).as(s"mh$i")
    }
    shingles(docs)
      .select(col("doc_id"), (shingleHash(col("tok")) % P).as("h"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** One row per (doc, band): band_hash concatenates the band's
    * `rowsPerBand` signature slots. ONE pass over the signature frame. */
  def bandedSignatures(docs: DataFrame, nHashes: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= nHashes,
      s"banding must fit the signature: $bands x $rowsPerBand <= $nHashes")
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*).as("band_hash"))
    }: _*)
    signatures(docs, nHashes)
      .select(col("doc_id"), explode(bandStructs).as("bd"))
      .select(col("doc_id"), col("bd.band_idx").as("band_idx"),
        col("bd.band_hash").as("band_hash"))
  }

  /** Distinct candidate pairs (doc_a < doc_b): group each band bucket,
    * emit in-bucket id combinations via higher-order array ops —
    * signatures compute exactly once and bucket sizes bound the pair
    * blow-up (LSH's contract). */
  def candidatePairs(docs: DataFrame, nHashes: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val buckets = bandedSignatures(docs, nHashes, bands, rowsPerBand)
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = flatten(transform(col("ids"), (x, i) =>
      transform(
        slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }
}
