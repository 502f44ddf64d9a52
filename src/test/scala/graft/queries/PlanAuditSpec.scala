package graft.queries

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import graft.{SparkEntry, SparkSpec}

/** Plan-quality guard: the invariants PERF.md's audits rely on, held
  * by `sbt test` instead of by manual `.explain` review. Plans are
  * BUILT (not executed) against sf0.001, so a regression — a join that
  * degenerates to a cartesian product, a filter that stops reaching
  * the scan — fails fast here before any bench run sees it. */
class PlanAuditSpec extends SparkSpec with PredicateHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val d = SparkEntry.allDefs.find(_.name == name)
      .getOrElse(fail(s"missing $name"))
    d.build(spark, dir).queryExecution.executedPlan.toString
  }

  /** One registered query's plan, built once for every suite-wide
    * case: the executed plan, its string, and [[planTrees]] of it. */
  private final case class Built(
      name: String, executed: SparkPlan, text: String, trees: Seq[SparkPlan]) {
    def physical: SparkPlan = unwrapAqe(executed)
  }

  /** Every registered query, built once. The cache is cleared after
    * each build, so one query's persists stay out of the next plan. */
  private lazy val built: Seq[Built] = SparkEntry.allDefs.map { d =>
    val p = d.build(spark, dir).queryExecution.executedPlan
    val b = Built(d.name, p, p.toString, planTrees(p))
    spark.catalog.clearCache()
    b
  }

  test("NO query plans a cartesian product") {
    // The only tolerated nested-loop shape is a BROADCAST one-row side
    // (q46's N frame, q23's max-SK frame) — an unbounded
    // CartesianProduct is always a defect at scale.
    built.foreach { b =>
      withClue(s"${b.name}: ") {
        b.text should not include "CartesianProduct"
      }
    }
  }

  // ---- suite-wide invariants: every registered query, present and
  // ---- future, inherits these guards for free. -----------------------

  /** Physical tree of a built (not executed) query, unwrapped from the
    * AQE shell. */
  private def physical(name: String): SparkPlan = {
    val d = SparkEntry.allDefs.find(_.name == name)
      .getOrElse(fail(s"missing $name"))
    d.build(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def unwrapAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** The plan plus every cached subtree reachable from it:
    * `plan.collect` does NOT descend into
    * `InMemoryTableScanExec.relation.cachedPlan`, so a scan that sits
    * inside a persistTracked frame (q88's documents scan, q30's groups
    * pipeline) is invisible to a top-level collect — an unpruned
    * full-width scan hidden under a persist would pass the audits
    * below. Expanding to the full tree list closes that hole
    * (round-7 ADVICE item). */
  private def planTrees(p: SparkPlan): Seq[SparkPlan] = {
    val root = unwrapAqe(p)
    root +: root.collect { case i: InMemoryTableScanExec => i }
      .flatMap(i => planTrees(i.relation.cachedPlan))
  }

  /** Queries whose nested-loop joins are all BROADCAST builds of
    * provably bounded frames — documented here so any NEW
    * nested-loop shape has to justify itself:
    *   - q23: 1-row max-SK frame crossed onto the incoming dim batch;
    *   - q46: 1-row corpus-size (N) aggregate crossed onto the term
    *     table;
    *   - q31/q41: the broadcast query side of brute-force cosine
    *     (bounded query set by contract, non-equi join condition);
    *   - q42/q47: broadcast centroid frames (≤ nCentroids rows) in the
    *     IVF assign/probe stages;
    *   - q68: 1-row corpus-token-total aggregate crossed onto the
    *     per-token rows (the q46 lazy-N pattern);
    *   - q71: the same 1-row corpus-total frame crossed onto the
    *     (source, tok) counts for the KL denominator;
    *   - q81: the same 1-row model-totals frame (N_target, N_global, V)
    *     crossed onto the per-token rows for DSIR smoothing.
    *   - q97: the broadcast label-centroid pair join (both sides
    *     ≤ #labels rows by construction, inequality condition for the
    *     upper triangle).
    *   - q101: 1-row per-dimension min/max aggregate crossed onto
    *     lineitem for the fixed-width bucket arithmetic (the q46
    *     lazy-totals pattern).
    */
  private val boundedNestedLoop = Set(
    "q23_dim_upsert", "q46_tfidf", "q31_similarity_stats", "q41_ann_topk",
    "q42_ann_ivf", "q47_embedding_neardup", "q68_unigram_logprob",
    "q71_source_divergence", "q81_dsir_weights", "q97_label_separation",
    "q101_zorder_cells",
    // q114: the corpus × CENTROID-TABLE scoring products (assignment +
    // probe selection) — the broadcast side is the nlist-row centroid
    // frame (√N under production sizing), the q42 pattern with the
    // corpus as the probe side; the candidate join itself is an
    // equi-join on bucket.
    "q114_knn_graph",
    // q120: the four REFERENTIAL audit rows cross a 1-row anti-join
    // count onto another table's 1-row total (the q68 lazy-totals
    // pattern); the four single-frame domain/PK rows select both
    // columns from their one aggregate and need no join at all.
    "q120_quality_audit",
    // q126: the two cross products attach the LAZY 1-row (N) and
    // 1-row (avgdl) broadcast aggregates to the scored stream — the
    // q46/q68 lazy-totals pattern; every multi-row join in the plan is
    // an equi-join (probe terms broadcast, dl on doc_id).
    "q126_bm25_topk",
    // q169: the survival curve attaches the LAZY 1-row corpus-token
    // total to the 13-row grid (the q46/q68 lazy-totals pattern); the
    // grid↔histogram join is an equi-join on the bucket index.
    "q169_filter_sweep",
    // q133: the same q126 lazy-totals cross products, once per scorer
    // (BM25 reuses N + avgdl, TF·IDF reuses N); the fuse join itself
    // is a full-outer EQUI-join on (term, doc_id) over
    // (terms × RankDepth)-bounded frames.
    "q133_rrf_fusion",
    // q141: the two cross products attach the broadcast 1-row bigram
    // and unigram TOTALS (the q46/q68 lazy-totals pattern) to the
    // vocab-bounded PMI frame; the unigram lookups are equi-joins.
    "q141_pmi_collocations",
    // q142: the broadcast 1-row distinct-bigram total (B) of the KN
    // continuation probability crosses onto the scoring stream; the
    // model lookups (bigram, w1, w2) are all equi-joins.
    "q142_kneser_ney",
    // q145: the 7-row lag frame broadcast-crosses onto the
    // (types × days)-bounded daily-count frame; the lag pair join
    // itself is an equi-join on (event_type, shifted day).
    "q145_acf_lags",
    // q179: the 1-row lazy-totals broadcast cross (q46/q68 pattern)
    // attaching total token/type counts to the 4-row coverage grid;
    // the grid itself rides an explode over the 8000-row top-k frame,
    // not a join.
    "q179_vocab_coverage",
    // q147: the q41 brute-cosine shape — broadcast bounded query side,
    // with the label-differs predicate as the (non-equi) join
    // condition; corpus side streams.
    "q147_hard_negatives",
    // q158: the q41 broadcast bounded-query (8 rows) brute shape, one
    // scored pass carrying all four prefix-dim cosines; corpus side
    // streams.
    "q158_matryoshka",
    // q161: same q41 broadcast bounded-query (8 rows) shape — the
    // sketch-vs-cosine fidelity frame joins non-equi (vec_id <> qid);
    // corpus side streams.
    "q161_srp_sketch",
    // q160: the 1-row lazy-totals broadcast cross (q46/q68 pattern)
    // attaching the three cross-source normalizers to the
    // (sources)-bounded design frame.
    "q160_mixing_design",
    // q149: inherits BOTH audited shapes it composes — q41's broadcast
    // query side (truth) and q42's broadcast centroid frames
    // (candidate); the metric join is an equi-join on (qid, vec_id).
    "q149_retrieval_eval",
    // q152: the centroid-pair distance join — both sides are the
    // k-row (≤ 8) model frame with an inequality condition (the q97
    // label-centroid pattern).
    "q152_cluster_quality",
    // q154: the q142 KN chain's broadcast 1-row distinct-bigram total
    // (B) crossed onto the scoring stream — the same shape, shared
    // code (knScored).
    "q154_ppl_buckets",
    // q157: inherits q149's composed shapes verbatim (q41 broadcast
    // query side + q42 broadcast centroid frames).
    "q157_ndcg",
    // q175: the q160 1-row lazy-totals broadcast cross (corpus total,
    // then quota-sum total) attached to the (sources)-bounded rate
    // frame; the corpus-sized side joins only equi (on source).
    "q175_temperature_mix",
    // q176: the 1-row (g_reps, tot_tok) totals broadcast crossed onto
    // the 5-row literal theta grid — both sides bounded constants.
    "q176_dedup_survival",
    // q182: the census ∥ 1-row n_buckets ∥ 1-row totals ∥ 1-row
    // rebuild-flag crosses — every frame ≤ nlist rows (appendHealth's
    // documented shape).
    "q182_ivf_append_health",
    // q183: the 1-row corpus-token total (ctot) broadcast crossed onto
    // the candidate stream, plus the 5-row query frame onto the
    // k-shortest docs — the q46/q68 lazy-totals pattern.
    "q183_query_likelihood",
    // q185: the 8-row query side × nlist-row centroid table probe
    // cross (q42/q149's broadcast-centroid shape, kept through
    // prank ≤ 8), plus the bounded truth/top5 attach joins.
    "q185_nprobe_sweep",
    // q57: the 1-row LIMIT-prune threshold (5000th-smallest distinct
    // custkey) broadcast crossed onto orders before the windows — the
    // r16 limit-aware partition prune.
    "q57_analytics_windows")

  test("suite-wide: nested-loop joins only as broadcast builds of bounded frames") {
    val offenders = built.flatMap { b =>
      val nlj = b.physical.collect { case j: BroadcastNestedLoopJoinExec => j }
      if (nlj.nonEmpty && !boundedNestedLoop.contains(b.name)) Some(b.name)
      else None
    }
    withClue(s"un-allow-listed nested-loop joins in: $offenders: ") {
      offenders shouldBe empty
    }
  }

  /** Descend through nodes that don't change which rows a filter could
    * have pushed past (codegen wrappers, projections) to find the
    * parquet scans a FilterExec sits directly above. */
  private def scansDirectlyBelow(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case w: WholeStageCodegenExec => scansDirectlyBelow(w.child)
    case i: InputAdapter => scansDirectlyBelow(i.child)
    case pr: ProjectExec => scansDirectlyBelow(pr.child)
    case f: FilterExec => scansDirectlyBelow(f.child)
    case _: InMemoryTableScanExec => Seq.empty // cached: scan already audited
    case _ => Seq.empty // joins/aggs/shuffles: not "directly above" anymore
  }

  /** Conjuncts the parquet source could actually accept: bare
    * attribute vs literal (what translateFilter converts). Computed
    * predicates — `size(split(text)) >= 30`, `c_custkey % 3 = 0` —
    * are intrinsically post-scan and must not trip the audit. */
  private def pushableConjunct(e: Expression): Boolean = e match {
    case IsNotNull(_: AttributeReference) => true
    case IsNull(_: AttributeReference) => true
    case b: BinaryComparison =>
      (b.left.isInstanceOf[AttributeReference] && b.right.foldable) ||
        (b.right.isInstanceOf[AttributeReference] && b.left.foldable)
    case In(_: AttributeReference, list) => list.forall(_.foldable)
    case InSet(_: AttributeReference, _) => true
    case StartsWith(_: AttributeReference, _: Literal) => true
    case EndsWith(_: AttributeReference, _: Literal) => true
    case Contains(_: AttributeReference, _: Literal) => true
    case _ => false
  }

  test("suite-wide: a filter directly above a parquet scan pushes something down") {
    // If Catalyst kept a Filter adjacent to a parquet scan AND that
    // filter has at least one source-convertible conjunct, the scan's
    // PushedFilters must be non-empty — an empty list there means a
    // predicate that SHOULD prune row groups is being evaluated
    // post-scan (the regression this guard exists to catch).
    val offenders = built.flatMap { b =>
      b.trees.flatMap(_.collect {
        case f: FilterExec =>
          scansDirectlyBelow(f.child).filter { s =>
            f.condition.references.subsetOf(s.outputSet) &&
              splitConjunctivePredicates(f.condition).exists(pushableConjunct) &&
              s.metadata.get("PushedFilters").forall(_ == "[]")
          }.map(s => s"${b.name}[${s.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")}]")
      }.flatten)
    }
    withClue(s"filter above scan with empty PushedFilters: $offenders: ") {
      offenders shouldBe empty
    }
  }

  /** Queries whose scans legitimately read a table's full width —
    * every entry must justify itself here, so a NEW full-width scan
    * fails the audit until it does:
    *   - q12/q13: projection/normalization passes whose CONTRACT is
    *     "every column of documents, cleaned" — the output carries
    *     the full width;
    *   - q21: LIMIT over the full orders row (the BI preview query —
    *     all columns by design);
    *   - q23: the dim upsert carries every dimension attribute of its
    *     5-column customer batch through the SCD append;
    *   - q24/q25/q26: the star fact/bridge builds consume every column
    *     of the 4-5-wide source frames they normalize (jobs-style
    *     facts keep all attributes; nation/region dims are 3-4 cols);
    *   - q50/q58/q67/q84/q100: corpus gates/sampling emit the full
    *     document row by contract (the cleaned corpus IS the output);
    *   - q44/q45/q54/q55: BI views over the 3-4-column nation/region
    *     dims (full width = the join keys + the one attribute);
    *   - q07: nation's 3 columns are join key in, name out, region
    *     key onward — all consumed;
    *   - q49: supplier's 4 columns are key, name, balance, nation FK —
    *     the TPC-H Q2 shape consumes all of them;
    *   - ivf_* (q42/q47): purpose-built index tables — their schema
    *     IS the set of columns the probe needs (see tableOk below).
    */
  private val fullWidthOk: Map[String, Set[String]] = Map(
    "q07_count_by_nation" -> Set("nation"),
    "q49_supplier_minbal" -> Set("supplier"),
    "q12_projection" -> Set("documents"),
    "q13_string_norm" -> Set("customer"),
    "q21_limit" -> Set("orders"),
    "q23_dim_upsert" -> Set("customer"),
    "q24_fact_build" -> Set("nation", "region"),
    "q25_skill_bridge" -> Set("documents"),
    "q26_skill_counts" -> Set("documents"),
    "q44_sql_view_flatten" -> Set("nation", "region"),
    "q45_sql_topk_having" -> Set("nation"),
    "q54_pivot" -> Set("nation"),
    "q55_rollup" -> Set("nation", "region"),
    "q50_clean_corpus" -> Set("documents"),
    "q58_hash_split" -> Set("documents"),
    "q67_corpus_mix" -> Set("documents"),
    "q84_source_caps" -> Set("documents"),
    "q100_clean_savings" -> Set("documents"),
    // q144 consumes the whole 3-column embeddings table: vec_id is the
    // release split, label the grouping, embedding the measure.
    "q144_embedding_drift" -> Set("embeddings"),
    // q147 consumes all three embeddings columns on both sides: vec_id
    // is identity/rank tiebreak, embedding the measure, label the
    // exclusion predicate.
    "q147_hard_negatives" -> Set("embeddings"),
    // q162's distinct-content collapse consumes all three columns:
    // (embedding, label) is the group key, vec_id the representative
    // pick (and the shared IVF index reads the same three).
    "q162_label_noise" -> Set("embeddings"))

  test("suite-wide: every parquet scan is column-pruned unless allow-listed") {
    // ReadSchema minimality, mechanically: a scan whose requiredSchema
    // is as wide as the table it reads means column pruning failed (or
    // the query genuinely consumes every column — then it's in the
    // allow-list above, with a reason). Tables narrower than 3 columns
    // are exempt: there is nothing to prune (region is
    // (r_regionkey, r_name, r_comment) and most uses want all three).
    val offenders = built.flatMap { b =>
      val scans = b.trees.flatMap(_.collect { case s: FileSourceScanExec => s })
      scans.flatMap { s =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        val tableWidth = s.relation.dataSchema.size
        val readWidth = s.requiredSchema.size
        val tableOk = table.startsWith("ivf_") || // purpose-built index
          // the shared rolling-hash window table (q77/q78/q105): its
          // 3-column schema IS the window index — doc, position, hash
          table.startsWith("graft_wins6_") ||
          // the shared bigram-count table (q86/q88/q142/q154): its
          // 5-column schema IS the LM index — doc, train/held-out
          // half, left/right word, count
          table.startsWith("graft_bigrams_") ||
          // q35's per-source census genuinely consumes all four tf
          // backbone columns (doc_id, source, term, tf); every other
          // consumer projects `source` away and must prune to 3/4
          // (tfFrame in RetrievalQueries), so only q35 is exempt.
          (table.startsWith("graft_tf_") && b.name == "q35_token_stats") ||
          fullWidthOk.get(b.name).exists(_.contains(table))
        if (tableWidth >= 3 && readWidth >= tableWidth && !tableOk)
          Some(s"${b.name}[$table $readWidth/$tableWidth]")
        else None
      }
    }
    withClue(s"full-width scans not in the allow-list: $offenders: ") {
      offenders shouldBe empty
    }
  }

  test("q01: the shipdate filter reaches the parquet scan, schema pruned") {
    val p = plan("q01_pricing_summary")
    p should include("PushedFilters: [IsNotNull(l_shipdate)")
    // only the referenced columns are read, not all 16 (the plan
    // string truncates scan metadata, so match the schema's head)
    p should include("ReadSchema: struct<l_quantity:double,l_extendedprice:double")
    (p should not).include("l_orderkey") // an unreferenced column
  }

  test("q08: global top-k plans as TakeOrderedAndProject, never a full sort") {
    plan("q08_topk_customers") should include("TakeOrderedAndProject")
  }

  test("q61: head vocabulary is a bounded top-k and a broadcast membership join") {
    val p = plan("q61_oov_rate")
    p should include("TakeOrderedAndProject")
    p should include("BroadcastHashJoin")
  }

  test("q62: the benchmark shingle side broadcasts; the corpus side equi-joins") {
    val p = plan("q62_decontaminate")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin" // benchmark side must never shuffle-sort
  }

  test("q46/q102: the rank-1 argmaxes plan as aggregates, not windows") {
    // PERF log #29: max/min(struct(...)) replaces the row_number
    // window for argmax — map-side partial aggregation, no per-key
    // sort buffer of rows that get thrown away. A reverted window
    // would reappear as a Window node (the TopKPerKey rewrite can't
    // claim these: its child-size guard and rank-liveness rules don't
    // always fire, and the aggregate is strictly better anyway).
    // The struct-valued Max buffer is immutable in UnsafeRow terms, so
    // Spark plans it as a partial+final SortAggregate pair, never
    // HashAggregate — q46 still has hash aggregates elsewhere (df),
    // but q102 post-r15 reads everything from the shared warehouse
    // tables and the two SortAggregates are its only aggregates.
    Seq("q46_tfidf", "q102_cluster_reps").foreach { q =>
      withClue(s"$q: ") {
        val p = plan(q)
        (p should not).include("Window")
        // The struct-max argmax plans as a SortAggregate pair (the
        // immutable struct buffer bars HashAggregate); pin that node
        // specifically so a regression back to a Window (or a planner
        // change away from the aggregate shape) trips the audit.
        p should include("SortAggregate")
      }
    }
  }

  test("q88: no shingle pass in the plan, >= 2 bucketed-table scans, and no non-doc_id exchange") {
    // The width-2 shingle explode lives in the ONE-TIME build of the
    // shared w1-bucketed bigram table (bigramCountsFor) — never in a
    // consumer's plan. Both the LM branch and the scoring branch scan
    // that table, and HashPartitioning(w1, 16) from the bucketed scan
    // satisfies the (w1,w2) aggregate, the (w1) aggregate, and both
    // scoring joins — so the ONLY shuffles a consumer may plan are the
    // final per-doc rollup and its contract sort (both keyed doc_id).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = physical("q88_bigram_perplexity")
    val shingleGenerates = p.collect {
      case g: GenerateExec if g.boundGenerator.toString.contains("shingle_tokens") => g
    }
    val bucketScans = p.collect {
      case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.startsWith("graft_bigrams")) => s
    }
    val offKeyExchanges = p.collect {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.toString.contains("doc_id") => e
    }
    spark.catalog.clearCache()
    withClue(s"plan:\n$p\n") {
      shingleGenerates shouldBe empty // shingle CPU lives in the table build
      bucketScans.size should be >= 2 // LM build + scoring join both ride it
      offKeyExchanges shouldBe empty // model aggs + scoring joins shuffle-free
    }
  }

  test("collapsed near-dup family reads the SHARED disk-backed frames, never re-derives them") {
    // Round-11: q125/q156/q159/q167 each re-derived the distinct-text
    // groups and the LSH banding per query, and suite cache pressure
    // evicted the per-query persists mid-query (q167 ran 5.3× its
    // standalone time re-computing its own groups). Both frames are
    // session-materialized warehouse tables now — every consumer's
    // plan must SCAN them (the banding lives only in the one-time
    // repPairs build).
    Seq("q125_fuzzy_dedup", "q156_lsh_precision", "q159_containment",
        "q167_split_leakage").foreach { q =>
      val p = physical(q)
      def scansOf(prefix: String) = p.collect {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table.startsWith(prefix)) => s
      }
      spark.catalog.clearCache()
      withClue(s"$q: ") {
        scansOf("graft_tgroups") should not be empty
        scansOf("graft_reppairs") should not be empty
      }
    }
  }

  test("q30: contract sort is steered buckets + in-partition sort — one execution, no output-sized cache") {
    // Round-7 verdict #1: the pair output (2.48 B rows at sf10x) must
    // be materialized exactly once. The contract ORDER BY therefore
    // must NOT plan as (a) a RangePartitioning exchange — its sample
    // pass executes the verify join a second time — nor (b) a cache of
    // the pair frame. Allowed cached frame: the data-sized groups
    // pipeline (no doc_a column). RangeSort's shape: hash exchange on
    // the steering probe + per-partition SortExec.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val p = physical("q30_jaccard_pairs")
    p.collect { case s: SortExec if s.global => s } shouldBe empty
    p.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    } shouldBe empty
    val pairCaches = p.collect {
      case i: InMemoryTableScanExec
          if i.output.exists(_.name == "doc_a") => i
    }
    spark.catalog.clearCache()
    pairCaches shouldBe empty
  }

  test("q80: the salted aggregate is genuinely two-stage — salt in phase 1, merged on key") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = physical("q80_salted_agg")
    // Phase 1 groups on (user_id, _salt); phase 2 merges on user_id
    // alone: two distinct grouping shapes, and the salt must appear in
    // at least one exchange's partitioning (the hot key fans out).
    val aggs = p.collect { case h: HashAggregateExec => h }
    val groupings = aggs.map(_.groupingExpressions.map(_.name).toSet).distinct
    groupings should contain (Set("user_id", "_salt"))
    groupings.filter(_ == Set("user_id")) should not be empty
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    exchanges.map(_.outputPartitioning.toString)
      .exists(_.contains("_salt")) shouldBe true
  }
}
