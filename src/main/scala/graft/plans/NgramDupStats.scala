package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd within-document n-gram repetition profile: ONE
  * whitespace tokenization pass producing
  * `struct(n_toks, d2, d3)` — token count plus the DISTINCT 2-gram and
  * 3-gram counts — the inputs of the Gopher-style duplicate-n-gram
  * quality gate (q60).
  *
  * The composed form ([[ShingleTokens]] ×3 + `array_distinct` ×2)
  * tokenizes the text three times and materializes five arrays per row
  * (two of them concatenated shingle strings built only to be hashed
  * and thrown away). This expression tokenizes the UTF-8 bytes once,
  * interns tokens to dense ids by byte equality, and counts distinct
  * windows as EXACT packed-id longs in primitive open-address tables
  * (see [[NgramDupStats.profile]] — a window's joined-string identity
  * equals its token-tuple identity, so the counts are the same
  * integers `String.split("\\s+")` + `HashSet[String]` produced, with
  * zero per-window allocation).
  *
  * Scale: pure per-row map — no shuffle, participates in whole-stage
  * codegen via a static call, O(tokens) time and O(distinct windows)
  * transient memory per row.
  */
case class NgramDupStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_dup_stats requires a string argument, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("d2", IntegerType, nullable = false),
    StructField("d3", IntegerType, nullable = false)))

  override def prettyName: String = "ngram_dup_stats"

  override protected def nullSafeEval(input: Any): Any =
    NgramDupStats.profile(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NgramDupStats.profile($c)")

  override protected def withNewChildInternal(newChild: Expression): NgramDupStats =
    copy(child = newChild)
}

object NgramDupStats {

  /** Fast-path bound: token ids must pack 3×21 bits into one long. */
  private final val MaxFastTokens = 1 << 21

  /** r15 kernel (a count-only run of q60 at sf10x cost about as much
    * as the full query, so its cost is ~entirely this per-row profile
    * — compute-bound, not emit-bound): the
    * original shape decoded the doc to UTF-16 (`toString`), regex-split
    * it, and built a String + HashSet entry PER WINDOW. This path
    * never materializes a token or window string:
    *
    *   - tokenize on the UTF-8 BYTES — `\s` in Java regex is the ASCII
    *     class [ \t\n\x0B\f\r] and UTF-8 continuation bytes are
    *     ≥ 0x80, so byte scanning reproduces
    *     `split("\\s+").filter(_.nonEmpty)` exactly;
    *   - intern tokens to dense ids by byte equality (open addressing,
    *     FNV-1a over the span);
    *   - a window's joined-string identity equals its token-TUPLE
    *     identity (tokens are whitespace-free, the single-space join
    *     is injective), so distinct 2-/3-grams are EXACT distinct
    *     packed-id longs (21 bits per id) in a primitive table.
    *
    * Docs with ≥ 2^21 tokens (ids would not pack) take the original
    * string path — same counts, just slower. */
  def profile(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    var off = new Array[Int](32)
    var tl = new Array[Int](32)
    var n = 0
    var i = 0
    while (i < len) {
      if (isWs(bytes(i))) i += 1
      else {
        val s = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (n == off.length) {
          off = java.util.Arrays.copyOf(off, n * 2)
          tl = java.util.Arrays.copyOf(tl, n * 2)
        }
        off(n) = s
        tl(n) = i - s
        n += 1
      }
    }
    if (n >= MaxFastTokens) return profileSlow(text)
    if (n < 2) return new GenericInternalRow(Array[Any](n, 0, 0))
    // Intern each token span to a dense id (first-occurrence order).
    val cap = tableSize(n)
    val mask = cap - 1
    val slot = new Array[Int](cap) // token index + 1; 0 = empty
    val ids = new Array[Int](n)
    var distinct = 0
    i = 0
    while (i < n) {
      var h = hashBytes(bytes, off(i), tl(i)) & mask
      var id = -1
      while (id < 0) {
        val s = slot(h)
        if (s == 0) {
          slot(h) = i + 1; ids(i) = distinct; id = distinct; distinct += 1
        } else {
          val j = s - 1
          if (tl(j) == tl(i) && eqBytes(bytes, off(j), off(i), tl(i))) {
            id = ids(j); ids(i) = id
          } else h = (h + 1) & mask
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n,
      distinctPacked(ids, n, 2), distinctPacked(ids, n, 3)))
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** Next power of two ≥ 2·need (load factor ≤ 0.5), minimum 16. */
  private def tableSize(need: Int): Int =
    java.lang.Integer.highestOneBit(math.max(need * 2 - 1, 8)) * 2

  private def hashBytes(b: Array[Byte], off: Int, len: Int): Int = {
    var h = 0x811c9dc5
    var i = off
    val end = off + len
    while (i < end) { h = (h ^ (b(i) & 0xff)) * 0x01000193; i += 1 }
    // Finalize: FNV's low-bit diffusion is weak for mask-indexing.
    h ^= h >>> 16
    h * 0x85ebca6b
  }

  private def eqBytes(b: Array[Byte], o1: Int, o2: Int, len: Int): Boolean = {
    var i = 0
    while (i < len) {
      if (b(o1 + i) != b(o2 + i)) return false
      i += 1
    }
    true
  }

  /** Exact distinct count of width-w windows as packed-id longs. */
  private def distinctPacked(ids: Array[Int], n: Int, w: Int): Int = {
    val m = n - w + 1
    if (m <= 0) return 0
    val cap = tableSize(m)
    val mask = cap - 1
    val tab = new Array[Long](cap)
    java.util.Arrays.fill(tab, -1L)
    var cnt = 0
    var i = 0
    while (i < m) {
      var key = ids(i).toLong
      var j = 1
      while (j < w) { key = (key << 21) | ids(i + j); j += 1 }
      // fmix64 scramble: sequential ids would cluster under & mask.
      var x = key
      x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
      x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33
      var h = x.toInt & mask
      var done = false
      while (!done) {
        val v = tab(h)
        if (v == -1L) { tab(h) = key; cnt += 1; done = true }
        else if (v == key) done = true
        else h = (h + 1) & mask
      }
      i += 1
    }
    cnt
  }

  /** The original string-keyed path — the ≥ 2^21-token fallback. */
  private def profileSlow(text: UTF8String): InternalRow = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val d2 = new java.util.HashSet[String](math.max(8, n * 2))
    val d3 = new java.util.HashSet[String](math.max(8, n * 2))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      d2.add(sb.toString)
      if (i < n - 2) {
        sb.append(' ').append(toks(i + 2))
        d3.add(sb.toString)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, d2.size, d3.size))
  }
}
