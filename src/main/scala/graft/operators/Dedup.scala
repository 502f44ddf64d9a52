package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus deduplication — the operators that turn near-dup PAIR lists
  * (q27/q28/q30's output shape) into a deduplicated corpus.
  *
  *   - [[exact]]: keep the lowest-id document per content hash — one
  *     hash-groupBy shuffle.
  *   - [[dropPairDuplicates]]: given candidate pairs (doc_a < doc_b),
  *     greedily keep the lower id: every doc that ever appears on the
  *     right side is dropped. One distinct + one left-anti join. This
  *     is the industry-standard greedy form (transitively, a chain
  *     a<b<c loses both b and c — same behavior as keeping each
  *     cluster's minimum when pair lists are transitively closed, and
  *     strictly more aggressive when they are not; full
  *     connected-components needs iteration the pipelines avoid).
  *   - [[cleanCorpus]]: quality filter → exact dedup → near-dup drop,
  *     the composed training-data shape.
  */
object Dedup {

  /** Exact dedup on a content hash: keeps the lowest `idCol` per hash.
    * Returns the full surviving rows. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val keepers = docs
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Drop every document appearing as the GREATER side of any pair. */
  def dropPairDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = pairs.select(col("doc_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicated-span islands over a rolling-hash window frame
    * `(doc_id, i, wh)` (i = 1-based window start, width-`width`
    * windows — the q105/windowsFor shape): spans `(doc_id, s, e)` of
    * 1-based token positions covered by windows whose hash occurs in
    * ≥ 2 distinct docs. Islands merge windows whose starts are ≤
    * `width` apart, which is EXACTLY the union of covered positions
    * (two kept windows with start gap ≤ width cover contiguously), so
    * `e - s + 1` sums to q105's `dup_tokens` per doc. Scale: one
    * wh-keyed census (map-side combinable; bucket-local off the
    * shared table), one equi-join, one per-doc aggregate over only
    * the DUPLICATED window starts ([[islandSpanArrays]]). Consumers
    * that immediately re-collect the spans per doc should use
    * [[duplicatedSpanArrays]] instead and skip this explode. */
  def duplicatedSpans(wins: DataFrame, width: Int): DataFrame =
    duplicatedSpanArrays(wins, width)
      .select(col("doc_id"),
        explode(arrays_zip(col("__ss").as("s"), col("__es").as("e")))
          .as("__sp"))
      .select(col("doc_id"), col("__sp.s").as("s"), col("__sp.e").as("e"))

  /** [[duplicatedSpans]] in per-doc ARRAY form `(doc_id, __ss, __es)`
    * — ascending, disjoint, index-paired (the [[graft.plans
    * .RemoveSpans]] input contract). Docs without duplicated windows
    * are absent (left-join + coalesce to empty at the consumer). */
  def duplicatedSpanArrays(wins: DataFrame, width: Int): DataFrame = {
    val rep = wins.groupBy("wh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("wh")
    islandSpanArrays(wins.join(rep, "wh").select("doc_id", "i"), width)
  }

  /** Gaps-and-islands over duplicated window STARTS `(doc_id, i)`:
    * merge starts ≤ `width` apart into spans of covered 1-based token
    * positions (e = last start + width − 1), returned as per-doc
    * ascending index-paired arrays `(doc_id, __ss, __es)`.
    *
    * Fused shape (r16): the classic walk — `lag` break flags + a
    * running-sum group id, i.e. two doc-keyed WindowExec passes (one
    * full partition sort of the duplicated-start stream) followed by
    * a (doc, group) aggregate AND the consumers' per-doc re-collect —
    * collapses into ONE `groupBy(doc_id).agg(collect_list(i))` plus
    * the codegen'd [[graft.plans.SpanIslands]] per-row walk (which
    * sorts each doc's starts itself, so collect order cannot
    * matter). State stays bounded by one doc's window count; the
    * partition-wide sort and two extra aggregate exchanges are gone.
    * Span equality with the window-pair form is pinned by
    * SpanIslandsSpec. */
  private def islandSpanArrays(dup: DataFrame, width: Int): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    dup.groupBy("doc_id")
      .agg(collect_list(col("i")).as("__ps"))
      .select(col("doc_id"),
        CatalystBridge.column(graft.plans.SpanIslands(
          CatalystBridge.expr(col("__ps")), width)).as("__isl"))
      .select(col("doc_id"),
        col("__isl.ss").as("__ss"), col("__isl.es").as("__es"))
  }

  /** Incremental span derivation against a PUBLISHED window-hash
    * vocabulary `vocab` (a `wh` column, treated as a set; extra
    * columns are ignored) for a batch window frame `bwins`
    * `(doc_id, i, wh)`: a batch window is duplicated when its hash
    * occurs in the vocabulary, or in ≥ 2 distinct batch docs (the
    * intra-batch rule of [[duplicatedSpanArrays]]). The corpus
    * contributes only one scan of its vocabulary; no corpus text is
    * tokenized or hashed (q178). Returns the per-doc ascending
    * index-paired span arrays `(doc_id, __ss, __es)` —
    * [[graft.plans.RemoveSpans]]' input contract; docs without
    * duplicated windows are absent. */
  def incrementalSpanArrays(vocab: DataFrame, bwins: DataFrame,
      width: Int): DataFrame = {
    val batchRep = bwins.groupBy("wh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("wh")
    val dupWh = vocab.select("wh").union(batchRep).distinct()
    islandSpanArrays(bwins.join(dupWh, "wh").select("doc_id", "i"), width)
  }

  /** Connected components over a near-dup pair list — the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Deterministic,
    * converges in O(log n) rounds on any graph (vs O(diameter) for
    * naive label propagation), each round two hash-aggregations and
    * one equi-join — no all-pairs shape anywhere, so the 100 TB story
    * is the same as any groupBy. Iteration is BOUNDED by `maxIter`;
    * on early convergence (edge set fixpoint, checked by count +
    * order-insensitive hash) the loop exits sooner. Should maxIter be
    * hit before the fixpoint (pathological chain lengths beyond
    * 2^maxIter nodes), labels are still a valid refinement — every
    * node maps to SOME smaller member of its component — just not yet
    * the global min.
    *
    * Input: pairs (`aCol`, `bCol`); output: (`idCol`, component_id) =
    * every node that appears in a pair, labeled with its component's
    * minimum id. Isolated docs (no pairs) don't appear — callers union
    * them back as their own singletons if needed.
    */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      idCol: String = "doc_id", maxIter: Int = 12,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // Per-round materialization: localCheckpoint pins the round's edge
    // set to EXECUTOR memory/disk — fine single-node, but on a real
    // cluster it ties the job to executor lifetimes and pins their
    // storage. With `checkpointDir` set, rounds go to a RELIABLE
    // checkpoint (HDFS/S3) instead: executor loss replays from the
    // checkpoint, and executor storage is not the bottleneck.
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    def canonical(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    // large-star: every strictly-larger neighbor of u connects to
    // min(neighbors(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      canonical(sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star: orient edges large→small; u and all its smaller
    // neighbors connect to the smallest of them.
    def smallStar(e: DataFrame): DataFrame = {
      val or = canonical(e) // (u, v) with v < u
      val mins = or.groupBy("u").agg(min("v").as("m"))
      canonical(or.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v"))))
    }

    // Each round references the previous edge set several times (the
    // symmetrize union + the min-aggregate join), so the logical plan
    // grows EXPONENTIALLY round over round if lineage is kept — an
    // eager checkpoint materializes the round and resets the plan to a
    // LogicalRDD (local or reliable per `checkpointDir`, see above).
    var edges = materialize(
      canonical(pairs.select(col(aCol).as("u"), col(bCol).as("v"))))
    var signature = checksum(edges)
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      val next = materialize(smallStar(largeStar(edges)))
      val nextSig = checksum(next)
      converged = nextSig == signature
      signature = nextSig
      edges = next
      it += 1
    }
    // At the star fixpoint every edge is (member, component-min); min
    // per member also covers the truncated-iteration case.
    edges
      .select(col("u").as(idCol), col("v").as("component_id"))
      .union(edges.select(col("v").as(idCol), col("v").as("component_id")))
      .groupBy(idCol).agg(min("component_id").as("component_id"))
  }

  /** Order-insensitive fingerprint of an edge set (convergence check):
    * count + XOR of a per-edge hash (XOR cannot overflow under ANSI
    * mode, unlike sum). */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Keep ONE document per near-dup cluster (the minimum id),
    * computed by [[connectedComponents]] — the alternative to
    * [[dropPairDuplicates]]'s greedy right-side drop. The two differ
    * on non-transitively-closed pair lists: with pairs (a,c), (b,c)
    * the greedy form keeps {a, b} (b never appears on a right side),
    * while clustering keeps only {a} (one survivor per component). */
  def dropClusterDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 12): DataFrame = {
    val comp = connectedComponents(pairs, idCol = idCol, maxIter = maxIter)
    val losers = comp.filter(col(idCol) =!= col("component_id")).select(idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality gate used by the clean-corpus pipeline (mirrors q32's
    * scoring: enough tokens, not stopword-soup). Computed by the fused
    * [[graft.plans.TokenProfile]] byte scan — ONE pass per row, no
    * token-array materialization (q128 oracle-pinned equal to the
    * `size(tokens)` / `countIn` composition this replaces). */
  def qualityFilter(docs: DataFrame, textCol: String = "text",
      minTokens: Int = 30, maxStopwordRatio: Double = 0.15): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    val prof = CatalystBridge.column(graft.plans.TokenProfile(
      CatalystBridge.expr(col(textCol)), Seq("the", "a")))
    // explode(array(...)) is a Generate BARRIER (r16): with a plain
    // withColumn the filter condition's THREE field references each
    // inline a full token_profile byte scan when the predicate is
    // pushed (FilterExec does no cross-conjunct CSE); the generator
    // output cannot be substituted, so the profile runs once per row.
    docs.withColumn("__qprof", explode(array(prof)))
      .filter(col("__qprof.n_tokens") >= minTokens &&
        col("__qprof.n_stop").cast("double") / col("__qprof.n_tokens")
          < maxStopwordRatio)
      .drop("__qprof")
  }

  /** The composed training-data cleanup: quality → exact dedup →
    * near-dup drop (pairs supplied by the caller's chosen detector —
    * minhash-LSH, simhash radius, or Jaccard verification).
    * `clustered = true` switches the near-dup stage from the greedy
    * right-side drop to one-survivor-per-connected-component. */
  def cleanCorpus(docs: DataFrame, nearDupPairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      clustered: Boolean = false): DataFrame = {
    val base = exact(qualityFilter(docs, textCol), idCol, textCol)
    if (clustered) dropClusterDuplicates(base, nearDupPairs, idCol)
    else dropPairDuplicates(base, nearDupPairs, idCol)
  }

  /** [[cleanCorpus]]' (greedy form) surviving ID SET, from a
    * PRECOMPUTED loser set — one `idCol` column of every doc that
    * appears as the greater side of some near-dup pair — instead of
    * the pair list itself, so a distinct-content-collapsed detector
    * can derive the losers GROUP-LEVEL without materializing the
    * expanded raw pair list (d² the group graph at duplication factor
    * d). [[exact]]'s keeper set — min `idCol` per content hash over
    * quality docs — IS the survivor id set, so there is no join back
    * to full rows (r16): exact's left-semi probe would re-scan the
    * corpus and re-run the quality profile a second time. One corpus
    * pass total; the exchange carries (hash, id), never text. */
  def cleanCorpusSurvivorIds(docs: DataFrame, losers: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    qualityFilter(docs, textCol)
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
      .join(losers.select(col(idCol)), Seq(idCol), "left_anti")
}
