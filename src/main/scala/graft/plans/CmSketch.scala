package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch as a native [[TypedImperativeAggregate]] —
  * `cm_sketch(item, width, depth)` builds a depth×width counter grid
  * in one pass with O(width·depth) state per partition, mergeable by
  * cell-wise addition (EXACT under merge: the merged grid is
  * bit-identical to a single-pass grid, so the sketch is fully
  * layout-independent, unlike Misra–Gries whose pruning depends on
  * arrival order).
  *
  * The mergeable summary next to [[FreqSketch]] (Misra–Gries heavy
  * hitters: WHICH items are frequent): Count-Min answers "HOW
  * often did THIS item occur" for any later probe — the serving shape
  * where a trained blocklist/token-frequency model must score
  * arbitrary keys without shipping the distinct-key space. At 100 TB
  * the exact `groupBy(token).count` shuffles one row per distinct key
  * (billions); the sketch ships a fixed few-KB grid per partition.
  *
  * Guarantees (Cormode & Muthukrishnan 2005):
  *   - NO undercount: estimate ≥ true count, always;
  *   - overcount bound: estimate ≤ true + ⌈e/width⌉·N with
  *     probability ≥ 1 − e^(−depth) per probe (N = total adds).
  *
  * Rows hash by Kirsch–Mitzenmacher double hashing over a 64-bit
  * FNV-1a of the UTF-8 bytes — pure integer arithmetic, no JVM
  * hashCode, so grids are stable across JVMs and versions.
  *
  * Output: `struct<width int, depth int, total long,
  * cells array<long>>` (row-major). Probe with [[CmProbe]]
  * (`cm_estimate(sketch, item)`), which broadcasts naturally: the
  * one-row sketch joins a probe stream as a literal-sized build side.
  */
case class CmSketch(
    child: Expression,
    width: Int,
    depth: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmSketch.Buffer]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cm_sketch requires a STRING column, got ${child.dataType}")
    else if (width < 8 || width > (1 << 22))
      TypeCheckResult.TypeCheckFailure(
        s"cm_sketch width must be in [8, ${1 << 22}], got $width")
    else if (depth < 1 || depth > 16)
      TypeCheckResult.TypeCheckFailure(
        s"cm_sketch depth must be in [1, 16], got $depth")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = CmSketch.sketchType
  override def nullable: Boolean = false
  override def prettyName: String = "cm_sketch"

  override def createAggregationBuffer(): CmSketch.Buffer =
    new CmSketch.Buffer(width, depth)

  override def update(buf: CmSketch.Buffer, input: InternalRow): CmSketch.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String], 1L)
    buf
  }

  override def merge(a: CmSketch.Buffer, b: CmSketch.Buffer): CmSketch.Buffer = {
    a.mergeIn(b)
    a
  }

  override def eval(buf: CmSketch.Buffer): Any =
    InternalRow(buf.width, buf.depth, buf.total,
      new GenericArrayData(buf.cells.map(Long.box)))

  override def serialize(buf: CmSketch.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.width)
    out.writeInt(buf.depth)
    out.writeLong(buf.total)
    var i = 0
    while (i < buf.cells.length) { out.writeLong(buf.cells(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CmSketch.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new CmSketch.Buffer(in.readInt(), in.readInt())
    buf.total = in.readLong()
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmSketch =
    copy(child = newChild)
}

object CmSketch {

  val sketchType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("total", LongType, nullable = false),
    StructField("cells", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** 64-bit FNV-1a over the UTF-8 bytes. */
  def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Row-i bucket via Kirsch–Mitzenmacher: (h1 + i·h2) mod width,
    * both halves mixed so a weak low half can't alias rows. */
  def bucket(h: Long, row: Int, width: Int): Int = {
    val h1 = h
    val h2 = (h >>> 33) * 0xff51afd7ed558ccdL + 0x2545f4914f6cdd1dL
    val m = h1 + row.toLong * h2
    // floorMod on the mixed 64-bit value
    (((m % width) + width) % width).toInt
  }

  final class Buffer(val width: Int, val depth: Int) {
    val cells: Array[Long] = new Array[Long](width * depth)
    var total: Long = 0L

    def add(item: UTF8String, by: Long): Unit = {
      val h = fnv64(item.getBytes)
      var r = 0
      while (r < depth) {
        cells(r * width + bucket(h, r, width)) += by
        r += 1
      }
      total += by
    }

    /** Point estimate: min over rows — no undercount ever. */
    def estimate(item: UTF8String): Long = {
      val h = fnv64(item.getBytes)
      var mn = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = cells(r * width + bucket(h, r, width))
        if (c < mn) mn = c
        r += 1
      }
      mn
    }

    def mergeIn(other: Buffer): Unit = {
      require(other.width == width && other.depth == depth,
        s"cm_sketch merge shape mismatch: ${width}x$depth vs ${other.width}x${other.depth}")
      var i = 0
      while (i < cells.length) { cells(i) += other.cells(i); i += 1 }
      total += other.total
    }
  }
}

/** `cm_estimate(sketch, item)` — point-frequency probe of a
  * [[CmSketch]] result: min over the depth rows of the item's cells.
  * Null item → null; the sketch side is typically one broadcast row. */
case class CmProbe(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!CmProbe.isSketchStruct(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"cm_estimate expects a cm_sketch struct, got ${left.dataType}")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cm_estimate item must be STRING, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "cm_estimate"

  override protected def nullSafeEval(sketch: Any, item: Any): Any =
    CmProbe.estimate(sketch.asInstanceOf[InternalRow],
      item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, i) => s"graft.plans.CmProbe.estimate($s, $i)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmProbe =
    copy(left = newLeft, right = newRight)
}

object CmProbe {
  /** Shared by eval and generated code. */
  def estimate(sketch: InternalRow, item: UTF8String): Long = {
    val width = sketch.getInt(0)
    val depth = sketch.getInt(1)
    val cells = sketch.getArray(3)
    val h = CmSketch.fnv64(item.getBytes)
    var mn = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = cells.getLong(r * width + CmSketch.bucket(h, r, width))
      if (c < mn) mn = c
      r += 1
    }
    mn
  }

  /** Structural check ignoring nullability metadata (an analyzed agg
    * output may differ from the canonical type only in nullability). */
  def isSketchStruct(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.length == 4 &&
        s(0).dataType == IntegerType && s(1).dataType == IntegerType &&
        s(2).dataType == LongType &&
        (s(3).dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })
    case _ => false
  }
}
