package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd SRP sketch over an `array<double>` embedding: the
  * fused form of floor(x·2^15) component quantization and all
  * [[graft.operators.Srp.Bits]] exact-long sign projections in ONE
  * while-loop pass, no intermediate arrays.
  *
  * The Column-composed form built one zip_with product array and one
  * interpreted aggregate fold PER BIT PER ROW (32 array allocations +
  * 32 lambda folds each row) — it dominated q161's corpus pass at
  * sf1x. This node quantizes once into a stack array and runs the
  * 32×64 multiply-add grid in generated code; results are
  * bit-identical (same floor, same exact-long sums, same strict
  * `> 0` bit rule — the sign matrix is the SAME
  * [[graft.operators.Srp.signs]] object).
  *
  * Null semantics: null array → null, any null ELEMENT anywhere in
  * the array → null (the whole array is scanned, including any tail
  * beyond the sign matrix — a poisoned vector never yields a
  * sketch). Vectors shorter than `Srp.Dims` project over the
  * available prefix (min-length, the DotProduct stance); longer
  * vectors' VALUES beyond the sign matrix are ignored. The q161
  * oracle mirrors the whole-array rule with an explicit NULL-sketch
  * CASE (AnnQueries.srpSql), so a tail-only null yields a NULL
  * band in BOTH engines (ADVICE r11 closed; pinned by the
  * "tail-only null" SrpSpec case).
  */
case class SrpSketch(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"srp_sketch requires array<double>, got $dt")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sketch"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    SrpSketch.sketch(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("sk")
      s"""
         |java.lang.Long $boxed = graft.plans.SrpSketch.sketch($a);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SrpSketch = copy(child = newChild)
}

object SrpSketch {
  /** Boxed so a null element can surface as SQL NULL; the hot path
    * allocates one Long plus one dims-long scratch array per row. */
  def sketch(a: ArrayData): java.lang.Long = {
    import graft.operators.Srp
    val n = a.numElements()
    var i = 0
    while (i < n) { // null scan covers the WHOLE array (see scaladoc)
      if (a.isNullAt(i)) return null
      i += 1
    }
    val dims = math.min(n, Srp.Dims)
    val eq = new Array[Long](dims)
    i = 0
    while (i < dims) {
      eq(i) = math.floor(a.getDouble(i) * 32768.0).toLong
      i += 1
    }
    var sk = 0L
    var b = 0
    while (b < Srp.Bits) {
      val row = Srp.signs(b)
      var acc = 0L
      var j = 0
      while (j < dims) { acc += eq(j) * row(j); j += 1 }
      if (acc > 0) sk |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sk)
  }
}
