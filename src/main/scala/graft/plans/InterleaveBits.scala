package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd Morton (Z-order) bit interleave over 2–4 bigint
  * bucket ranks: output bit `i*ndims + d` is bit `i` of dimension `d`,
  * for `i < bitsPerDim` — the space-filling-curve key of Z-order data
  * clustering (Morton 1966; the layout technique behind multi-
  * dimensional min/max pruning in modern lakehouse table formats).
  *
  * Inputs are expected to be BUCKET RANKS already in
  * `[0, 2^bitsPerDim)` (q101 buckets each dimension to fixed widths
  * first). Bits above `bitsPerDim` are ignored; negative ranks are
  * clamped to 0 so a caller bug degrades locality, never correctness.
  *
  * Why an expression: the declarative form is a 2·bits-term chain of
  * `shiftleft(shiftright(...))` bit ops whose Catalyst tree grows with
  * precision; this node is one static call that stays inside
  * whole-stage codegen at any `bitsPerDim`.
  */
case class InterleaveBits(children: Seq[Expression], bitsPerDim: Int)
    extends Expression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2 || children.size > 4)
      TypeCheckResult.TypeCheckFailure(
        s"interleave_bits takes 2-4 arguments, got ${children.size}")
    else if (!children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckFailure(
        s"interleave_bits requires bigint arguments, got " +
          children.map(_.dataType).mkString(", "))
    else if (bitsPerDim <= 0 || bitsPerDim * children.size > 63)
      TypeCheckResult.TypeCheckFailure(
        s"bitsPerDim must satisfy 0 < bits*ndims <= 63, got " +
          s"$bitsPerDim × ${children.size}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "interleave_bits"

  override def eval(input: InternalRow): Any = {
    val vs = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Long]
      i += 1
    }
    children.size match {
      case 2 => InterleaveBits.interleave2(vs(0), vs(1), bitsPerDim)
      case 3 => InterleaveBits.interleave3(vs(0), vs(1), vs(2), bitsPerDim)
      case _ => InterleaveBits.interleave4(vs(0), vs(1), vs(2), vs(3),
        bitsPerDim)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val fn = s"graft.plans.InterleaveBits.interleave${children.size}"
    val isNull =
      if (nullable) evs.map(_.isNull).mkString(" || ") else "false"
    val childCode = evs.map(_.code).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $isNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = $fn(${evs.map(_.value).mkString(", ")}, $bitsPerDim);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InterleaveBits =
    copy(children = newChildren)
}

object InterleaveBits {

  @inline private def clamp(v: Long): Long = if (v < 0) 0L else v

  def interleave2(a0: Long, b0: Long, bits: Int): Long = {
    val a = clamp(a0); val b = clamp(b0)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  def interleave3(a0: Long, b0: Long, c0: Long, bits: Int): Long = {
    val a = clamp(a0); val b = clamp(b0); val c = clamp(c0)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (3 * i)
      z |= ((b >>> i) & 1L) << (3 * i + 1)
      z |= ((c >>> i) & 1L) << (3 * i + 2)
      i += 1
    }
    z
  }

  def interleave4(a0: Long, b0: Long, c0: Long, d0: Long, bits: Int): Long = {
    val a = clamp(a0); val b = clamp(b0); val c = clamp(c0)
    val d = clamp(d0)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (4 * i)
      z |= ((b >>> i) & 1L) << (4 * i + 1)
      z |= ((c >>> i) & 1L) << (4 * i + 2)
      z |= ((d >>> i) & 1L) << (4 * i + 3)
      i += 1
    }
    z
  }
}
