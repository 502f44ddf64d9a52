package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass token profile: `struct(n_tokens, n_distinct,
  * n_stop)` over the raw UTF-8 bytes — the fused form of the
  * quality-feature triple
  * `size(tokens(t))` / `size(array_distinct(tokens(t)))` /
  * `countIn(tokens(t), stops)` that q128-style scorers read. The
  * composed form materializes the token ARRAY (plus a second
  * deduplicated array and one array_remove copy per stop term) for
  * counts that never need the arrays; this expression walks the bytes
  * once, keeps a per-row set of token views (no byte copies — the
  * views borrow the row's buffer and die with the row), and emits
  * three longs.
  *
  * Tokenization parity with [[ShingleTokens]] (and so with the
  * DuckDB oracle's `string_split_regex(text, '\s+')` + non-empty
  * filter), argued byte-wise: Java's `\s` without
  * UNICODE_CHARACTER_CLASS is exactly the six ASCII bytes
  * `[ \t\n\x0B\f\r]`; each is a full UTF-8 code unit (< 0x80), and no
  * multi-byte sequence contains them (continuation bytes are ≥ 0x80),
  * so splitting on those BYTES splits on exactly those CHARACTERS.
  * Token equality (for distinct and stop counts) is UTF-8 byte
  * equality — the same equality `array_distinct`/`array_remove` use
  * on StringType.
  *
  * Scale: per-row map, whole-stage codegen via a static call, stop
  * list shipped once per task as a codegen reference, allocation
  * bounded by tokens-per-row.
  */
case class TokenProfile(child: Expression, stops: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_profile requires a string argument, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  override def prettyName: String = "token_profile"

  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stops.map(_.getBytes("UTF-8")).toArray

  override protected def nullSafeEval(input: Any): Any =
    TokenProfile.profile(input.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenProfileStops", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenProfile.profile($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenProfile =
    copy(child = newChild)
}

object TokenProfile {

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def profile(text: UTF8String, stops: Array[Array[Byte]]): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    var nTokens = 0L
    var nStop = 0L
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val len = i - start
        nTokens += 1
        // view into the row's bytes — no copy; the set dies with the row
        seen.add(UTF8String.fromAddress(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, len))
        var s = 0
        var hit = false
        while (s < stops.length && !hit) {
          val sb = stops(s)
          if (sb.length == len) {
            var j = 0
            while (j < len && bytes(start + j) == sb(j)) j += 1
            hit = j == len
          }
          s += 1
        }
        if (hit) nStop += 1
      }
    }
    val out = new GenericInternalRow(3)
    out.setLong(0, nTokens)
    out.setLong(1, seen.size.toLong)
    out.setLong(2, nStop)
    out
  }
}
