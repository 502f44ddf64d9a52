package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-phrase substring scan via a byte-level Aho–Corasick
  * automaton: `phrase_scan(text, phrases)` returns the SORTED DISTINCT
  * indices (into `phrases`) of every phrase that occurs in `text`, in
  * ONE pass over the bytes regardless of how many phrases there are.
  *
  * This is the scale path for blocklist/policy/contamination phrase
  * matching and [[graft.functions.extractTags]]'s vocabulary tagging:
  * an unrolled per-term `Contains` chain (fine for a dozen terms)
  * re-scans the document once PER PHRASE —
  * O(len · phrases) — where a production blocklist has 10⁴–10⁵
  * entries and documents are read once. Aho–Corasick is O(len) per
  * document plus O(Σ phrase bytes) one-time automaton build; the
  * automaton ships to generated code as a codegen reference object
  * (the [[TokenProfile]] stop-list pattern), so the scan stays inside
  * whole-stage codegen and builds exactly once per executor, not per
  * row or per task.
  *
  * Matching is raw UTF-8 substring containment (the `contains`
  * semantics), case-sensitive; overlapping and nested phrases all
  * report. Empty or duplicate phrases are rejected at analysis.
  */
case class PhraseScan(child: Expression, phrases: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"phrase_scan requires a string argument, got ${child.dataType}")
    else if (phrases.isEmpty)
      TypeCheckResult.TypeCheckFailure("phrase_scan requires >= 1 phrase")
    else if (phrases.exists(_.isEmpty))
      TypeCheckResult.TypeCheckFailure("phrase_scan phrases must be non-empty")
    else if (phrases.distinct.length != phrases.length)
      TypeCheckResult.TypeCheckFailure("phrase_scan phrases must be distinct")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "phrase_scan"

  @transient private lazy val automaton = new PhraseScan.Automaton(phrases)

  override protected def nullSafeEval(input: Any): Any =
    automaton.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseScanAc", automaton,
      classOf[PhraseScan.Automaton].getName)
    defineCodeGen(ctx, ev, c => s"$ref.scan($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseScan =
    copy(child = newChild)
}

object PhraseScan {

  /** Byte-level Aho–Corasick with dense 256-way transition rows —
    * goto+fail collapsed into a full DFA at build time, so the scan is
    * one array lookup per input byte with zero branching on fail
    * chains. Serializable: ships once per executor inside the codegen
    * references array. */
  final class Automaton(phrases: Seq[String]) extends Serializable {

    // Build the trie.
    private val patterns: Array[Array[Byte]] =
      phrases.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

    // next(state * 256 + byte) = state; outputs(state) = phrase ids
    // ending here (after fail-closure).
    val (next: Array[Int], outputs: Array[Array[Int]]) = {
      val maxNodes = patterns.map(_.length).sum + 1
      val children = Array.fill(maxNodes)(null: java.util.HashMap[Integer, Integer])
      val out = Array.fill(maxNodes)(List.empty[Int])
      var nNodes = 1
      // 1. trie insert
      var p = 0
      while (p < patterns.length) {
        var s = 0
        val pat = patterns(p)
        var i = 0
        while (i < pat.length) {
          val b = pat(i) & 0xff
          if (children(s) == null) children(s) = new java.util.HashMap()
          val nxt = children(s).get(b)
          if (nxt == null) {
            children(s).put(b, nNodes)
            s = nNodes
            nNodes += 1
          } else s = nxt
          i += 1
        }
        out(s) ::= p
        p += 1
      }
      // 2. BFS fail links + collapse into a dense DFA
      val fail = new Array[Int](nNodes)
      val dfa = new Array[Int](nNodes * 256)
      val queue = new java.util.ArrayDeque[Integer]()
      var b = 0
      while (b < 256) {
        val c = if (children(0) == null) null else children(0).get(b)
        if (c != null) { fail(c) = 0; queue.add(c); dfa(b) = c }
        else dfa(b) = 0
        b += 1
      }
      while (!queue.isEmpty) {
        val s = queue.poll().intValue()
        if (out(fail(s)).nonEmpty) out(s) = out(s) ++ out(fail(s))
        b = 0
        while (b < 256) {
          val c = if (children(s) == null) null else children(s).get(b)
          if (c != null) {
            fail(c) = dfa(fail(s) * 256 + b)
            dfa(s * 256 + b) = c
            queue.add(c)
          } else {
            dfa(s * 256 + b) = dfa(fail(s) * 256 + b)
          }
          b += 1
        }
      }
      (dfa, out.take(nNodes).map(_.toArray))
    }

    /** One pass: sorted distinct matched phrase indices. */
    def scan(text: UTF8String): GenericArrayData = {
      val bytes = text.getBytes
      val seen = new java.util.BitSet(patterns.length)
      var s = 0
      var i = 0
      while (i < bytes.length) {
        s = next(s * 256 + (bytes(i) & 0xff))
        val o = outputs(s)
        if (o.length > 0) {
          var k = 0
          while (k < o.length) { seen.set(o(k)); k += 1 }
        }
        i += 1
      }
      val hits = new Array[Any](seen.cardinality())
      var idx = 0
      var bit = seen.nextSetBit(0)
      while (bit >= 0) {
        hits(idx) = bit
        idx += 1
        bit = seen.nextSetBit(bit + 1)
      }
      new GenericArrayData(hits)
    }
  }
}
