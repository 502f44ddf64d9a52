package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply side of the hashed-feature logistic quality classifier
  * ([[graft.operators.TextClassifier]]): score = σ(b + w·x) where x is
  * the ℓ¹-normalized hashed-bucket term-frequency vector of the token
  * array — the model the trainer fits, applied as ONE fused per-row
  * pass inside whole-stage codegen.
  *
  * Since x_j = count_j / n, w·x = (Σ_tokens w[h(tok)]) / n: the bucket
  * counts never materialize — each token contributes one weight lookup
  * via the same [[StableHash60]]-mod-dim bucket the trainer used
  * (md5-derived: engine-independent, layout-independent, no JVM
  * hashCode). Weights ship to generated code as a codegen reference
  * (the [[MatVec]] pattern), deserialized once per task.
  *
  * Empty token arrays score σ(b) (zero feature vector), null inputs
  * propagate null.
  */
case class LogitScore(child: Expression, weights: Array[Double],
    bias: Double, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      if (dim < 1 || weights.length != dim)
        TypeCheckResult.TypeCheckFailure(
          s"logit_score shape mismatch: dim=$dim, weights=${weights.length}")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"logit_score requires array<string> tokens, got $other")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "logit_score"

  override protected def nullSafeEval(input: Any): Any =
    LogitScore.score(input.asInstanceOf[ArrayData], weights, bias, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("logitW", weights, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.LogitScore.score($c, $w, ${bias}D, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): LogitScore =
    copy(child = newChild)
}

object LogitScore {
  /** σ(z) with the symmetric exp form (exp of a non-positive argument
    * only — no overflow at any z, and the SAME bit pattern the trainer
    * uses, so train-time and apply-time probabilities agree exactly). */
  def sigmoid(z: Double): Double =
    if (z >= 0) 1.0 / (1.0 + math.exp(-z))
    else { val e = math.exp(z); e / (1.0 + e) }

  def score(toks: ArrayData, w: Array[Double], b: Double, dim: Int): Double = {
    val n = toks.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null)
        acc += w((StableHash60.hash(t) % dim).toInt)
      i += 1
    }
    sigmoid(if (n > 0) b + acc / n else b)
  }
}
