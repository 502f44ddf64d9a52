package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: the TopKPerKey planner strategy
  * and rewrite rule, plus SQL names for the native expressions that
  * queries reach through the Column API (`GraftExtensionsSpec` pins
  * the list). Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extension: sort-free per-key top-k (see
    // graft.plans.TopKPerKey), plus the optimizer rewrite that turns
    // the window-rank top-k idiom into it automatically.
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => TopKRewriteRule)

    ext.injectFunction((
      new FunctionIdentifier("stable_hash60"),
      info("stable_hash60", "stable_hash60(str) - 60-bit md5-derived non-negative hash"),
      (args: Seq[Expression]) => StableHash60(args.head)))

    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

    ext.injectFunction((
      new FunctionIdentifier("shingle_tokens"),
      info("shingle_tokens",
        "shingle_tokens(str, w) - deduped array of w-token shingles"),
      (args: Seq[Expression]) =>
        ShingleTokens(args(0), intLit(args(1), "shingle width"))))

    ext.injectFunction((
      new FunctionIdentifier("rolling_hash_windows"),
      info("rolling_hash_windows",
        "rolling_hash_windows(str, w) - Rabin-Karp hashes of w-token windows"),
      (args: Seq[Expression]) =>
        RollingHashWindows(args(0), intLit(args(1), "window width"))))

    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(arr, arr) - left-to-right dot product of two double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))

    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(arr, arr) - |A n B| of two SORTED-DISTINCT string arrays (two-pointer, no allocation)"),
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))))

    ext.injectFunction((
      new FunctionIdentifier("bloom_probe"),
      info("bloom_probe",
        "bloom_probe(filterBytes, str) - membership in a serialized Bloom filter (no false negatives)"),
      (args: Seq[Expression]) => BloomProbe(args(0), args(1))))

    ext.injectFunction((
      new FunctionIdentifier("pii_scrub"),
      info("pii_scrub",
        "pii_scrub(str) - struct(n_email, n_ip, n_phone, scrubbed): counts on the original, chained email->ip->phone redaction"),
      (args: Seq[Expression]) => PiiScrub(args(0))))

    ext.injectFunction((
      new FunctionIdentifier("ngram_dup_stats"),
      info("ngram_dup_stats",
        "ngram_dup_stats(str) - struct(n_toks, d2, d3): token count + distinct 2-/3-gram counts in one pass"),
      (args: Seq[Expression]) => NgramDupStats(args.head)))

    ext.injectFunction((
      new FunctionIdentifier("token_class_counts"),
      info("token_class_counts",
        "token_class_counts(str) - struct(n_words, n_punct): [A-Za-z0-9]+ runs and non-alnum non-ws code points in one byte scan"),
      (args: Seq[Expression]) => TokenClassCounts(args.head)))

    ext.injectFunction((
      new FunctionIdentifier("normalize_text"),
      info("normalize_text",
        "normalize_text(str) - NFC + controls->space + whitespace collapse + trim, one pass"),
      (args: Seq[Expression]) => NormalizeText(args.head)))

    ext.injectFunction((
      new FunctionIdentifier("interleave_bits"),
      info("interleave_bits",
        "interleave_bits(b1, b2[, b3[, b4]], bits) - Morton/Z-order interleave of 2-4 bucket ranks, `bits` low bits each"),
      (args: Seq[Expression]) =>
        InterleaveBits(args.init, intLit(args.last, "interleave_bits width"))))

    ext.injectFunction((
      new FunctionIdentifier("freq_sketch"),
      info("freq_sketch",
        "freq_sketch(str, k) - Misra-Gries heavy-hitter aggregate: <=k (item, count_min, err) candidates"),
      (args: Seq[Expression]) =>
        FreqSketch(args(0), intLit(args(1), "freq_sketch k"))))

    ext.injectFunction((
      new FunctionIdentifier("vec_outer_sum"),
      info("vec_outer_sum",
        "vec_outer_sum(array<float|double>) - one-pass vector moments: struct(n, dim, mean, cov)"),
      (args: Seq[Expression]) => VecOuterSum(args.head)))

    ext.injectFunction((
      new FunctionIdentifier("quant_sweep"),
      info("quant_sweep",
        "quant_sweep(array<float|double>) - 2/4/6/8-bit uniform-grid error sweep: struct(n, s2..s8 micro-long err2 sums, m2..m8 max abs err)"),
      (args: Seq[Expression]) => QuantSweep(args.head)))
  }
}
