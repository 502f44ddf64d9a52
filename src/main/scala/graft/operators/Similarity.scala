package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{functions => gf}
import graft.sources.SharedTable

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — the training-data-pipeline similarity operator.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact O(Q·N) baseline — broadcast the query
  *     set against the corpus. Right answer, and the right PLAN when Q
  *     is small (broadcast-nested-loop over a tiny build side); never
  *     viable for Q ≈ N.
  *   - [[ivfTopK]]: the scale path. A deterministic IVF-style index:
  *     centroids are hash-seeded from the corpus and Lloyd-refined on
  *     a bounded sample ([[trainCentroids]] — deterministic, no RNG,
  *     layout-independent), every corpus vector
  *     is assigned to its nearest centroid (one broadcast join +
  *     windowed argmax), queries probe their `nprobe` nearest
  *     centroids, and the exact search runs only inside the probed
  *     buckets — an equi-join on bucket id instead of an all-pairs
  *     product. At 100 TB the corpus side shuffles once on bucket id
  *     and each bucket is a partition-local scan.
  *
  * Cosine is computed as a sequential fold (`aggregate`/`zip_with`) so
  * the DuckDB oracle's left-to-right summation agrees bit-for-bit.
  */
object Similarity {

  /** dot(a, b): native codegen'd left-to-right fold — bit-identical to
    * the `aggregate(zip_with(...))` composition it replaces, which runs
    * interpreted and dominates O(Q·N) similarity joins. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(graft.plans.DotProduct(
      CatalystBridge.expr(a), CatalystBridge.expr(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Project to (id, e: array<double>, nrm). */
  private def prep(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol),
        transform(col(embCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", norm(col("e")))

  /** Exact top-k: every (query, corpus) pair with query side broadcast,
    * ranked per query by cosine. Output: (qid, vec_id, cos, rank). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = prep(corpus, idCol, embCol)
    val q = prep(queries, idCol, embCol)
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val cos = dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc(idCol))
    broadcast(q).join(c, col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), gf.roundz(cos, 6).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic IVF centroid training: hash-seeded sample + Lloyd.
    *
    * Seeds are the `nCentroids` corpus vectors with the smallest
    * `md5(id)` — a layout- and data-order-independent pseudo-uniform
    * draw (first-N ids made bucket balance depend on how ids were
    * assigned). They are then refined by `iters` Lloyd steps over a
    * bounded training sample (the `trainN` smallest-hash vectors):
    * assign sample → nearest centroid by cosine, recompute each
    * centroid as the element-wise mean of its members (rounded to 6
    * decimals so distributed summation order can't leak into the
    * result), drop emptied buckets. True k-means++ seeding is
    * inherently sequential (each seed conditions on the last); the
    * hash draw + Lloyd refinement gets the balance benefit while
    * staying one declarative plan.
    *
    * Scale: Lloyd touches ONLY the `trainN`-row sample — broadcastable
    * at any corpus size (this is how IVF indexes train at 100 TB: fit
    * on a sample, then one assignment pass over the corpus). Centroid
    * ids are the seed ids, stable across iterations.
    *
    * Output: (cent_id, ce: array<double>, cn). */
  def trainCentroids(
      corpus: DataFrame, nCentroids: Int,
      trainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val hashed = prep(corpus, idCol, embCol)
      .withColumn("h", md5(col(idCol).cast("string")))
    val samp = hashed.orderBy("h").limit(trainN)
      .select(col(idCol), col("e"), col("nrm"))
    val seeds = hashed.orderBy("h").limit(nCentroids)
      .select(col(idCol).as("cent_id"), col("e").as("ce"), col("nrm").as("cn"))
    (1 to iters).foldLeft(seeds) { (cent, _) =>
      val assigned = samp.join(broadcast(cent), lit(true))
        .withColumn("csim", dot(col("e"), col("ce")) / (col("nrm") * col("cn")))
        .groupBy(col(idCol))
        .agg(max(struct(col("csim"), (-col("cent_id")).as("negc"),
          col("e").as("e"))).as("b"))
        .select((-col("b.negc")).as("cent_id"), col("b.e").as("e"))
      // Element-wise mean via posexplode + per-position EXACT-LONG
      // mean of xq = floor(x·2^15), rounded once to 6 dp (the
      // q130/T125 idiom): raw-double avg merges partials in task
      // order and round(6) masks that drift only probabilistically —
      // this form is bit-identical at any layout and exactly
      // replicable in SQL (AnnQueries.centroidCtes).
      val ce = assigned
        .select(col("cent_id"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos")
        .agg(gf.roundz(sum(floor(col("x") * lit(32768.0)).cast("long"))
          .cast("double") / count(lit(1)) / 32768.0, 6).as("x"))
        .groupBy("cent_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("x")))),
          s => s.getField("x")).as("ce"))
      ce.withColumn("cn", norm(col("ce")))
    }
  }

  /** Corpus → nearest centroid (argmax cosine, ties by cent_id).
    * Output: (idCol, e, nrm, bucket).
    *
    * The argmax is ONE hash aggregate, not a windowed rank: the window
    * form shuffles and fully sorts the corpus × centroid product
    * (N × nlist rows — at the sf10x √N-sizing probe that is 89 M rows
    * for a 200 k corpus), while `max(struct(csim, −cent_id, …))`
    * partial-aggregates map-side so the shuffle carries ~N rows and
    * nothing sorts. Tie semantics are IDENTICAL to the old
    * (csim desc, cent_id asc) rank: struct comparison is field-wise,
    * and the negated id makes MAX prefer the smallest centroid id on
    * equal cosine (ids are unique per group, so the trailing payload
    * fields are never compared). */
  def assignToCentroids(c: DataFrame, cent: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    c.join(broadcast(cent), lit(true))
      .withColumn("csim", dot(col("e"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy(col(idCol))
      .agg(max(struct(col("csim"), (-col("cent_id")).as("negc"),
        col("e").as("e"), col("nrm").as("nrm"))).as("b"))
      .select(col(idCol), col("b.e").as("e"), col("b.nrm").as("nrm"),
        (-col("b.negc")).as("bucket"))
  }

  /** Probe + exact in-bucket search over an already-assigned corpus:
    * each query row (`qid`, `qe`, `qn`) probes its `nprobe` nearest
    * centroids by cosine (ties by cent_id), and the exact cosine
    * ranking runs only inside the probed buckets (equi-join on bucket
    * id). Output: (qid, idCol, cos, rank). */
  private def searchBuckets(assigned: DataFrame, cent: DataFrame,
      q: DataFrame, k: Int, nprobe: Int, idCol: String): DataFrame = {
    val qw = Window.partitionBy("qid").orderBy(desc("qsim"), asc("cent_id"))
    val probes = broadcast(q).join(broadcast(cent), lit(true))
      .withColumn("qsim", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("prank", row_number().over(qw))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("cent_id").as("bucket"))

    val cos = dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
    val rw = Window.partitionBy("qid").orderBy(desc("cos"), asc(idCol))
    assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), gf.roundz(cos, 6).as("cos"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF-bucketed approximate top-k over [[trainCentroids]] centroids,
    * training + assigning inline (one-shot use). For repeated queries
    * build the index ONCE with [[buildIndex]]/[[indexFor]] and probe it
    * — at 100 TB the assignment is a full corpus scan you do not want
    * to pay per query. Output: (qid, vec_id, cos, rank) — exact cosine,
    * searched only within the probed buckets. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nprobe: Int = 2,
      trainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cent = trainCentroids(corpus, nCentroids, trainN, iters, idCol, embCol)
    val assigned = assignToCentroids(prep(corpus, idCol, embCol), cent, idCol)
    val q = prep(queries, idCol, embCol)
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    searchBuckets(assigned, cent, q, k, nprobe, idCol)
  }

  /** DPR-style hard-negative mining (Karpukhin et al. 2020, "Dense
    * Passage Retrieval"): for each query vector, the top-k
    * most-similar corpus vectors that do NOT share the query's label —
    * the "close but wrong" examples contrastive training needs (random
    * negatives are trivially far; the informative gradient comes from
    * near-misses). Exact variant: broadcast query side × one corpus
    * scan, the label exclusion a join predicate BELOW the rank so
    * same-label rows never enter the window. Output: (qid, idCol,
    * cos, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label",
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(labelCol),
        transform(col(embCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val q = queries.select(col(idCol).as("qid"),
        col(labelCol).as("_qlabel"),
        transform(col(embCol), x => x.cast("double")).as("qe"))
      .withColumn("qn", norm(col("qe")))
    val cos = dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc(idCol))
    broadcast(q).join(c, col(labelCol) =!= col("_qlabel"))
      .select(col("qid"), col(idCol), gf.roundz(cos, 6).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Handle to a persisted IVF index: a centroid table plus the
    * assigned corpus written as a warehouse table BUCKETED on the
    * centroid id — the probe-time bucket equi-join reads only the
    * probed buckets' files and shuffles nothing on the corpus side. */
  final case class IvfIndex(centroidTable: String, assignedTable: String)

  /** Train once, assign once, persist — the 100 TB shape: the Lloyd
    * chain and the full-corpus assignment pass run ONE time, after
    * which every query is a broadcast probe against the bucketed
    * table. Results are bit-identical to the inline [[ivfTopK]]:
    * centroid coordinates are rounded to 6 decimals before persisting
    * and doubles round-trip parquet exactly, so index-vs-inline cannot
    * diverge. Stale tables/locations from a previous session (the
    * in-memory catalog forgets them across JVMs) are cleared before
    * the write. */
  def buildIndex(
      corpus: DataFrame, name: String,
      nCentroids: Int = 16, trainN: Int = 128, iters: Int = 2,
      numBuckets: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding"): IvfIndex = {
    val spark = corpus.sparkSession
    val idx = IvfIndex(s"${name}_centroids", s"${name}_assigned")
    Seq(idx.centroidTable, idx.assignedTable)
      .foreach(SharedTable.clear(spark, _))
    val cent = trainCentroids(corpus, nCentroids, trainN, iters, idCol, embCol)
    graft.sources.FileIO.writeWarehouseTable(cent, idx.centroidTable)
    // Assign against the PERSISTED centroids so the training chain is
    // computed exactly once (saveAsTable materialized it above).
    val assigned = assignToCentroids(
      prep(corpus, idCol, embCol), spark.table(idx.centroidTable), idCol)
    graft.sources.FileIO.writeBucketedTable(
      assigned, idx.assignedTable, "bucket", numBuckets)
    idx
  }

  /** Memoized [[buildIndex]] ([[SharedTable.memoTables]]): reuse the
    * persisted tables when they already exist in this session's
    * catalog (zero jobs), build otherwise. The
    * name keys the (corpus, params) pair — callers must not reuse a
    * name across different corpora. For a fingerprinted name
    * (`SharedTable.indexName(spark, prefix, dir, sources)`), `stem` is
    * its `SharedTable.indexName(prefix, dir)`: an absent table then
    * means the corpus was regenerated, and the build GCs the
    * superseded generation's tables first. */
  def indexFor(
      corpus: DataFrame, name: String,
      nCentroids: Int = 16, trainN: Int = 128, iters: Int = 2,
      numBuckets: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding",
      stem: Option[String] = None): IvfIndex = {
    val idx = IvfIndex(s"${name}_centroids", s"${name}_assigned")
    SharedTable.memoTables(corpus.sparkSession,
        Seq(idx.centroidTable, idx.assignedTable),
        stem.map(_ -> name).toSeq) {
      buildIndex(corpus, name, nCentroids, trainN, iters, numBuckets,
        idCol, embCol)
    }
    idx
  }

  /** INCREMENTAL index APPEND — the production ingest path (the
    * standard ANN `add` contract, e.g. FAISS's IndexIVF.add — public
    * knowledge): assign a NEW batch of vectors under the index's
    * FROZEN coarse quantizer and append the assignments to the
    * bucketed table. Centroids are NEVER retrained on append —
    * retraining would re-bucket already-persisted vectors and
    * invalidate every prior assignment; the trade (quantizer drifts
    * from the true corpus distribution as it grows) is the documented
    * industry contract, with periodic full rebuilds as the
    * counter-measure. Because assignment is a per-vector function of
    * content under fixed centroids, the grown index is IDENTICAL to
    * one whose single assignment pass had included the batch from the
    * start, and append order cannot matter (`SimilaritySpec` pins
    * both, plus exact brute-force equality at covering probes).
    *
    * Cost: one batch-sized scoring pass against the nlist-row
    * broadcast centroid table + one bucketed APPEND (new bucket files
    * only) — O(batch · nlist), never a corpus re-assignment. Bucket
    * count is read from the table's catalog metadata so the append
    * can't silently break the bucketed-join contract. Id uniqueness
    * across appends is the caller's contract, as for any table.
    *
    * NOT for fingerprint-memoized indexes (ADVICE r13): tables named
    * by the fingerprinted [[SharedTable.indexName]] (stem + `_f` +
    * source-table fingerprint, e.g. the shared "ivf" stem) have a
    * lifecycle that assumes their contents are a PURE FUNCTION of the
    * source tables — [[indexFor]] serves them memoized,
    * [[SharedTable.dropStaleGenerations]] deletes superseded
    * generations, and a fingerprint-triggered
    * rebuild would silently DISCARD appended vectors; worse, appending
    * to the shared stem poisons every oracle-gated consumer
    * (q42/q47/q66/…) that treats the assigned table as exactly the
    * corpus assignment. Appendable indexes must be built via
    * [[buildIndex]] under a caller-owned name; this method rejects
    * generation-named tables loudly. */
  def appendToIndex(index: IvfIndex, batch: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val gen = ".*_f[0-9a-f]{10}(_assigned)?$".r
    if (gen.matches(index.assignedTable.toLowerCase))
      throw new IllegalArgumentException(
        s"${index.assignedTable} is a fingerprint-memoized index " +
          "(corpus-derived, rebuilt/GC'd on corpus change — appends " +
          "would be silently discarded and shared-stem consumers " +
          "poisoned); build an appendable index via buildIndex with a " +
          "caller-owned name instead")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(index.assignedTable))
    val numBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalStateException(
        s"${index.assignedTable} is not bucketed — not an IVF assigned table"))
    val assigned = assignUnderIndex(index, batch, idCol, embCol)
    graft.sources.FileIO.writeBucketedTable(assigned, index.assignedTable,
      "bucket", numBuckets, org.apache.spark.sql.SaveMode.Append)
  }

  /** Assign a batch under an index's FROZEN coarse quantizer — the
    * kernel of [[appendToIndex]], which folds the result into the
    * bucketed table. Output matches the assigned table's schema:
    * (idCol, e, nrm, bucket). */
  private def assignUnderIndex(index: IvfIndex, batch: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignToCentroids(prep(batch, idCol, embCol),
      batch.sparkSession.table(index.centroidTable), idCol)

  /** IVF APPEND-HEALTH census + rebuild trigger (VERDICT r13 item 4) —
    * the q149/q156 evaluation-gate stance applied to index
    * maintenance: after [[appendToIndex]] ingest, per trained bucket,
    * how much of its mass arrived by append and how skewed the bucket
    * loads have become. `baseCounts` is the (bucket, n_base) census of
    * the assignment AT BUILD TIME (the trained generation — recorded
    * then, because the assigned table itself does not distinguish
    * appended rows); appends only add, so n_app = n_total − n_base
    * exactly.
    *
    * REBUILD POLICY (documented contract, all compares exact integer
    * arithmetic so the flags are bit-identical at any layout/engine):
    *   - `flag_skew` (per bucket): n_total · n_buckets > skewFactor ·
    *     Σn_total — the bucket holds > skewFactor× the mean load, the
    *     probe-cost skew that makes nprobe tuning meaningless;
    *   - `flag_stale` (per bucket): 10·n_app ≥ staleTenths·n_total —
    *     the bucket is mostly post-train mass, i.e. the frozen
    *     quantizer never saw the distribution it now serves;
    *   - `rebuild` (global, on every row): total appended fraction
    *     ≥ rebuildTenths/10, OR any bucket flag fired. When it reads 1,
    *     re-run [[buildIndex]] over base ∪ appends (T161's documented
    *     counter-measure); the probe-recall cost of NOT rebuilding is
    *     what q149 measures.
    *
    * Output, one row per non-empty bucket: (bucket, n_base, n_app,
    * n_total, app_frac, load_factor = n_total/mean, flag_skew,
    * flag_stale, rebuild), ordered by bucket — frames bounded by nlist
    * after one scan of the assigned table (census persisted for its
    * two consumers). */
  def appendHealth(index: IvfIndex, baseCounts: DataFrame,
      skewFactor: Int = 4, staleTenths: Int = 6,
      rebuildTenths: Int = 3): DataFrame = {
    val spark = baseCounts.sparkSession
    healthCensus(spark.table(index.assignedTable),
      spark.table(index.centroidTable), baseCounts,
      skewFactor, staleTenths, rebuildTenths)
  }

  private def healthCensus(assigned: DataFrame, centroids: DataFrame,
      baseCounts: DataFrame, skewFactor: Int, staleTenths: Int,
      rebuildTenths: Int): DataFrame = {
    val census = graft.CacheRegistry.persistTracked(
      assigned
        .groupBy("bucket").agg(count(lit(1)).as("n_total"))
        .join(baseCounts.select(col("bucket"), col("n_base")),
          Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n_base"), lit(0L)).as("n_base"),
          col("n_total"))
        .withColumn("n_app", col("n_total") - col("n_base")),
      graft.CacheRegistry.DataSized) // ≤ nlist rows
    val nb = centroids.agg(count(lit(1)).as("n_buckets"))
    val tot = census.agg(sum("n_total").as("tot"), sum("n_app").as("app_tot"))
    val per = census.crossJoin(broadcast(nb)).crossJoin(broadcast(tot))
      .withColumn("flag_skew",
        (col("n_total") * col("n_buckets") >
          lit(skewFactor.toLong) * col("tot")).cast("long"))
      .withColumn("flag_stale",
        (col("n_app") * 10L >=
          lit(staleTenths.toLong) * col("n_total")).cast("long"))
    val glob = per.agg(
      (max(col("flag_skew")) === 1L || max(col("flag_stale")) === 1L ||
        max(col("app_tot")) * 10L >= lit(rebuildTenths.toLong) *
          max(col("tot"))).cast("long").as("rebuild"))
    per.crossJoin(broadcast(glob))
      .select(col("bucket"), col("n_base"), col("n_app"), col("n_total"),
        gf.roundz(col("n_app").cast("double") / col("n_total"), 6)
          .as("app_frac"),
        gf.roundz((col("n_total") * col("n_buckets")).cast("double")
          / col("tot"), 6).as("load_factor"),
        col("flag_skew"), col("flag_stale"), col("rebuild"))
      .orderBy("bucket")
  }

  /** The ONE way to build/reuse the SHARED session IVF index (stem
    * "ivf") that the embedding query families (q42/q47/q66/q149/q162)
    * and Bench's prebuild all amortize. [[indexFor]]'s memoization
    * keys on NAME only (stem + corpus fingerprint), NOT on build
    * parameters — so the shared stem's parameters are pinned HERE,
    * once; a consumer building the "ivf" stem with different
    * parameters directly would silently poison every other consumer
    * with a mismatched index (ADVICE r12). The parameter values are
    * the ones the oracle CTEs replicate (`AnnQueries.centroidCtes`:
    * nCent = 16, trainN = 128, iters = 2). */
  def sharedIvfIndex(corpus: DataFrame, dir: String): IvfIndex =
    indexFor(corpus,
      SharedTable.indexName(corpus.sparkSession, "ivf", dir,
        Seq("embeddings")),
      nCentroids = 16, trainN = 128, iters = 2, numBuckets = 16,
      stem = Some(SharedTable.indexName("ivf", dir)))

  /** Approximate top-k probing a PERSISTED index — no training, no
    * assignment pass; the corpus side is the bucketed table. Same
    * output contract as the inline [[ivfTopK]]. */
  def ivfTopK(index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int, idCol: String, embCol: String): DataFrame = {
    val spark = queries.sparkSession
    val q = prep(queries, idCol, embCol)
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    searchBuckets(spark.table(index.assignedTable),
      spark.table(index.centroidTable), q, k, nprobe, idCol)
  }

  def ivfTopK(index: IvfIndex, queries: DataFrame, k: Int): DataFrame =
    ivfTopK(index, queries, k, nprobe = 2, idCol = "vec_id",
      embCol = "embedding")

  /** KNN GRAPH: approximate top-k neighbors for EVERY corpus vector —
    * the all-vectors generalization of [[ivfTopK]] and the kernel
    * under semantic dedup, retrieval-based mixing, and embedding-graph
    * clustering. Same IVF index semantics (hash-seeded Lloyd
    * centroids, argmax assignment, nprobe probes, exact cosine inside
    * probed buckets), but the query side IS the corpus, so the
    * [[searchBuckets]] broadcasts are structurally wrong here.
    *
    * DISTINCT-CONTENT COLLAPSE (the q162 contract generalized to
    * top-k): real corpora are duplicate-heavy, and every per-vector
    * quantity here — bucket (argmax over the pinned centroid chain),
    * probe set, and the 6-dp cosine against any partner — is a pure
    * function of the vector's CONTENT. So the expensive stages run
    * over one representative per distinct embedding:
    *
    *   - group once on the raw embedding bytes → sorted member-id
    *     list per content group (gid = min id, the representative);
    *   - probe selection (top-`nprobe` centroids per GROUP over the
    *     R × nlist score product, R = distinct contents) and the
    *     per-group candidate top-(k+1) both run on
    *     [[graft.plans.TopKPerKey]]'s bounded heap — one clustered
    *     shuffle each, no windowed full sort, spill fallback past the
    *     task byte budget;
    *   - candidate generation is a SHUFFLE equi-join on bucket id
    *     over GROUP representatives (R-sized sides; nothing
    *     broadcast), so with duplication factor d the scored
    *     candidate volume shrinks d² vs the raw join — per-bucket
    *     work stays bounded by distinct-content membership, and
    *     nlist ≈ √R keeps that at ~√R;
    *   - each candidate GROUP contributes only its k+1 smallest
    *     member ids (`head`): within a group all members share one
    *     cosine and order consecutively by id, so any member beyond
    *     its group's first k+1 is preceded by k+1 same-cosine
    *     smaller ids and can never enter a top-(k+1);
    *   - EXPANSION is arithmetic: every member of a query group
    *     inherits the group's top-(k+1) list minus (at most) itself —
    *     one equi-join on gid producing ≤ N·(k+1) rows, then the
    *     cheap re-rank.
    *
    * Bit-parity with the raw-row semantics (q114's oracle pins probe
    * ties, candidate sets, and rank tie-breaks): buckets/probes/
    * cosines are content-determined, and the head-truncation argument
    * above is exact, so the expanded top-k is row-for-row the raw
    * top-k. Centroid TRAINING stays on the raw corpus — its
    * hash-seeded sample is id-keyed, which the oracle replicates.
    *
    * The rank column is re-derived by a row_number over the ALREADY
    * (k+1)-bounded rows (partitions of ≤ k+1) — the cheap sort, not
    * the one TopKPerKey avoided. Output: (qid, idCol, cos, rank),
    * ties broken (cos desc, id asc) on the 6-decimal-rounded cosine
    * in both engines. */
  def knnJoin(
      corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nprobe: Int = 2,
      trainN: Int = 128, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cent = trainCentroids(corpus, nCentroids, trainN, iters, idCol, embCol)
    // One content group per distinct embedding; ≤ corpus rows, usually
    // far fewer. Persisted: referenced by reps, heads and members (an
    // un-persisted subtree would re-run the groupBy per reference).
    val groups = graft.CacheRegistry.persistTracked(
      corpus.select(col(idCol), col(embCol))
        .groupBy(col(embCol))
        .agg(sort_array(collect_list(col(idCol))).as("__ids"))
        .select(col(embCol), col("__ids"),
          element_at(col("__ids"), 1).as("gid")),
      graft.CacheRegistry.DataSized)
    val reps = prep(groups.select(col("gid").as(idCol), col(embCol)),
      idCol, embCol)
    val repvec = assignToCentroids(reps, cent, idCol)
    knnJoinCollapsed(groups.select(col("gid"), col("__ids")),
      repvec, cent, k, nprobe, idCol)
  }

  /** [[knnJoin]]'s probe/score/expand tail over PRE-BUILT collapse
    * frames (r15): `groups` = (gid, __ids) one row per distinct
    * embedding (gid = min member id), `repvec` = (idCol, e, nrm,
    * bucket) for exactly the rep ids, `cent` the centroid frame. A
    * caller holding the session-materialized shared artifacts (the
    * IVF index's assigned/centroid tables, the embedding dup-group
    * table) skips the per-run training + groupBy + assignment passes
    * entirely — bucket/e/nrm are content-determined, so the shared
    * index's rows for the rep ids are bit-identical to an inline
    * assignment. ONE implementation of the truncation-exact tail
    * serves both entries. */
  def knnJoinCollapsed(groups: DataFrame, repvec: DataFrame,
      cent: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    import graft.plans.TopKPerKey
    val g = graft.CacheRegistry.persistTracked(
      groups.select(col("gid"), col("__ids"),
        slice(col("__ids"), 1, k + 1).as("__head")),
      graft.CacheRegistry.DataSized)
    val assigned = repvec.join(g.select(col("gid"), col("__head")),
      col(idCol) === col("gid"))
    val scored = repvec.drop("bucket").join(broadcast(cent), lit(true))
      .select(col(idCol).as("qgid"), col("e").as("qe"), col("nrm").as("qn"),
        col("cent_id").as("bucket"),
        (dot(col("e"), col("ce")) / (col("nrm") * col("cn"))).as("qsim"))
    val probes = TopKPerKey(scored, Seq("qgid"),
      Seq(TopKPerKey.desc("qsim"), TopKPerKey.asc("bucket")), nprobe)
      .drop("qsim")
    val cos = dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
    val cand = assigned.join(probes, Seq("bucket"))
      .select(col("qgid"), gf.roundz(cos, 6).as("cos"),
        explode(col("__head")).as("__cand"))
    val gtop = TopKPerKey(cand, Seq("qgid"),
      Seq(TopKPerKey.desc("cos"), TopKPerKey.asc("__cand")), k + 1)
    val members = g.select(col("gid").as("qgid"),
      explode(col("__ids")).as("qid"))
    val rw = Window.partitionBy("qid").orderBy(desc("cos"), asc("__cand"))
    members.join(gtop, Seq("qgid"))
      .filter(col("__cand") =!= col("qid"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("__cand").as(idCol), col("cos"), col("rank"))
  }
}
