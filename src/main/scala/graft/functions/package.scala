package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-function library — the engine's scalar surface.
  *
  * Everything here is composed from `org.apache.spark.sql.functions._`
  * (whole-stage-codegen'd); no Scala/Python UDFs. Semantics mirror the
  * reference's transform layer (see SURVEY.md §2.2-§2.4):
  *   - name/title normalization (reference `dags/spark_etl_script.py:93-103`)
  *   - vocabulary skill tagging (reference `dags/test_extraction.py:108-129`)
  *   - relative-time parsing (reference `dags/spark_etl_script.py:12-29`)
  *   - bracket-string list parsing (reference `dags/spark_etl_script.py:132-135`)
  */
package object functions {

  /** trim ∘ upper — dimension natural-key normalization
    * (reference `dags/spark_etl_script.py:93`). */
  def normName(c: Column): Column = upper(trim(c))

  /** trim ∘ initcap — title-cased dimension normalization
    * (reference `dags/spark_etl_script.py:98,103`). */
  def normTitle(c: Column): Column = initcap(trim(c))

  /** Whitespace tokenization. Empty/whitespace-only input yields an
    * empty array (not `[""]`). Backed by the native codegen'd
    * [[graft.plans.ShingleTokens]] at width 1 (same `\s+` regex, same
    * nonEmpty filter, occurrence order with duplicates) — the composed
    * `filter(split(...))` form runs its lambda INTERPRETED per element
    * (PERF.md log #3), which taxed all 21 token-array call sites. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.ShingleTokens(
        org.apache.spark.sql.graft.CatalystBridge.expr(trim(text)),
        1, dedupe = false))

  /** One-pass token profile `struct(n_tokens, n_distinct, n_stop)` —
    * the fused native form of size(tokens)/size(array_distinct)/
    * countIn for quality-feature extraction; see
    * [[graft.plans.TokenProfile]] for the byte-level parity
    * argument. */
  def tokenProfile(text: Column, stops: Seq[String]): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.TokenProfile(
        org.apache.spark.sql.graft.CatalystBridge.expr(text), stops))

  /** Count of array elements equal to any of `terms` (duplicates
    * counted). `size(filter(arr, _.isin(terms:_*)))` is the natural
    * spelling, but higher-order lambdas run INTERPRETED per element
    * (PERF.md log #3); the size-difference over codegen'd
    * `array_remove`s is the whole-stage-codegen form of the same
    * count. */
  def countIn(arr: Column, terms: Seq[String]): Column =
    size(arr) - size(terms.foldLeft(arr)((a, t) => array_remove(a, t)))

  /** Vocabulary substring tagging (reference semantics: every vocab term
    * whose lowercase form occurs as a SUBSTRING of the lowercased text is
    * tagged — `dags/test_extraction.py:119-127`, including the quirk that
    * short terms match inside words). Returns a deduped, sorted array so
    * downstream compares are order-insensitive (SURVEY §7.4-2). */
  def extractTags(text: Column, vocab: Seq[String]): Column = {
    // ONE Aho–Corasick pass over the lowered bytes ([[phraseScan]])
    // instead of the unrolled per-term Contains chain — same output
    // contract (sorted distinct lowercase vocabulary substrings): the
    // automaton's sorted distinct indices over a byte-order-sorted
    // term table map monotonically to the binary-sorted term array the
    // old array_sort produced. Swapped in r14 after a count-only run
    // attributed q25's 25 s at sf10x to this scan (2 M docs × 51
    // terms × contains = 51 passes per text; the automaton is one) —
    // the q131 phrase-count sweep (60× at 800 phrases, PERF.md)
    // applied to the reference's own vocabulary path.
    // Degenerate vocabularies (ADVICE r14): PhraseScan requires ≥ 1
    // non-empty phrase, so filter empty terms and short-circuit an
    // empty vocabulary to the empty array the old Contains chain
    // produced (the '' term's old always-match inclusion is dropped —
    // a '' "tag" was the degenerate artifact, not a vocabulary hit).
    val terms = vocab.distinct.map(_.toLowerCase).distinct
      .filter(_.nonEmpty)
      .sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
    if (terms.isEmpty)
      when(text.isNotNull, lit(Array.empty[String]))
    else {
      val termArr = array(terms.map(lit): _*)
      transform(phraseScan(lower(text), terms),
        i => element_at(termArr, i + 1))
    }
  }

  /** Relative-time string → timestamp, measured against an injectable
    * `now` (determinism: SURVEY §7.4-4). Bit-compatible with the
    * reference (`dags/spark_etl_script.py:12-29`): "hour"/"day" are
    * matched as SUBSTRINGS anywhere (so "posted 3 hours ago" parses),
    * the first digit run is the magnitude, and "yesterday" yields NULL
    * (it contains "day" but no digits — the reference's dedicated
    * yesterday branch is unreachable). Pure Column composition — stays
    * inside whole-stage codegen. */
  def parseRelativeTime(c: Column, now: Column): Column = {
    val s = lower(trim(c))
    val digits = regexp_extract(s, "(\\d+)", 1)
    val n = when(digits =!= "", digits.cast(LongType))
    val oneDay  = expr("INTERVAL '1' DAY")
    val oneHour = expr("INTERVAL '1' HOUR")
    when(s.contains("hour"), now - oneHour * n)
      .when(s.contains("day"), now - oneDay * n)
      .otherwise(lit(null).cast(TimestampType))
  }

  /** The reference's bracket-string list parser: strip `[]'"` then split
    * on commas (`dags/spark_etl_script.py:132-135`). Splits on `,\s*`
    * like the legacy variant (spark_etl_script.cpython-39.pyc) rather
    * than the literal ", " — this also accepts compact JSON (`a","b`
    * with no space), which pandas' json.dumps never emits but Spark's
    * to_json does. */
  def parseBracketList(c: Column): Column =
    split(translate(c, "[]'\"", ""), ",\\s*")

  /** JSON-array parse of a string payload — the reference's declared
    * `job_highlights` parse (`spark_etl_script.py:126`), which yields
    * NULL on its object-shaped records (SURVEY §1.2 quirk). */
  def parseJsonList(c: Column): Column =
    from_json(c, ArrayType(StringType))

  /** Signed-zero-safe rounding for FLOAT OUTPUT columns — the suite-wide
    * fix for the class of bug that kept q130 red for two rounds
    * (rounds 9-10): DuckDB's `round` keeps the sign of a tiny negative
    * (−1e-9 → −0.0) while Spark's BigDecimal-based round drops it
    * (→ +0.0), and the driver's correctness gate hashes IEEE-754 BITS,
    * so one signable rounded cell is a deterministic, data-dependent
    * mismatch. IEEE round-to-nearest gives (−0.0) + 0.0 = +0.0, so
    * adding 0.0 after the round canonicalizes the zero in BOTH engines.
    * Every rounded double output column in the engine must use this
    * helper, and the paired oracle SQL must spell the same
    * `round(..., k) + 0.0` textually (see VERDICT r11 item 1). */
  def roundz(c: Column, scale: Int): Column = round(c, scale) + lit(0.0)

  // ---------------------------------------------------------------------
  // Stable hashing — md5-derived 60-bit non-negative longs. MD5 is
  // bit-identical across engines (and to the DuckDB oracle), unlike
  // Spark's xxhash64/murmur. 15 hex chars = 60 bits, always >= 0.
  // ---------------------------------------------------------------------

  /** Stable non-negative 60-bit hash of a string column. */
  def stableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant for minhash families: hash of "seed|value". */
  def stableHashSeeded(seed: Column, c: Column): Column =
    stableHash(concat_ws("|", seed.cast(StringType), c))

  /** w-token shingles from a token array: sliding windows joined by a
    * single space. Empty array when fewer than w tokens. */
  def shingles(toks: Column, w: Int): Column =
    when(size(toks) < w, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))

  /** Fan a scan out by `key` ONLY when it would under-parallelize:
    * a single-file (single-row-group) parquet input runs its per-row
    * tokenize/shingle/hash work in as many tasks as the scan has
    * splits — at cluster scale splits are plentiful and this is a
    * no-op, but a local/few-file input needs an explicit repartition
    * BEFORE the heavy map (the q30 lesson). Decision from FREE plan
    * stats (the T82 precedent): fan out iff the input is big enough
    * for the shuffle to pay for itself (> 2 MB) AND the estimated
    * split count is below half the available parallelism. */
  def fanOutScan(df: org.apache.spark.sql.DataFrame, key: Column)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val cores = spark.sparkContext.defaultParallelism
    val estSplits = (bytes / math.max(maxPart, 1L)).toLong + 1
    if (bytes > 2L * 1024 * 1024 && estSplits < cores / 2)
      df.repartition(key)
    else df
  }

  /** Chained-call form of [[fanOutScan]]. */
  implicit class FanOutOps(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def fanOutScan(key: Column): org.apache.spark.sql.DataFrame =
      graft.functions.fanOutScan(df, key)
  }

  /** Sorted distinct indices of the `phrases` occurring in `text` —
    * ONE Aho–Corasick pass over the bytes regardless of phrase count
    * ([[graft.plans.PhraseScan]]; the scale path where the unrolled
    * per-term Contains chain of [[extractTags]] doesn't hold). */
  def phraseScan(text: Column, phrases: Seq[String]): Column =
    org.apache.spark.sql.graft.CatalystBridge.column(
      graft.plans.PhraseScan(
        org.apache.spark.sql.graft.CatalystBridge.expr(text), phrases))
}
