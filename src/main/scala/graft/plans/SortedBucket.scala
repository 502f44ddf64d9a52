package graft.plans

import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Bucket index of a long value against a fixed sorted bound array:
  * the count of bounds strictly below the value, i.e. bucket i holds
  * rows with `bounds(i-1) < v <= bounds(i)` — the rank contract of
  * [[graft.operators.RangeSort.sortedByBounds]].
  *
  * Why an expression and not a fold: the declarative alternative
  * (`aggregate(typedlit(bounds), …)` summing `when(v > b, 1)`) costs
  * O(|bounds|) compares per row. That is fine at 32 partitions, but
  * RangeSort sizes its partition count by PREDICTED OUTPUT VOLUME
  * (an output-sized frame at 100 TB wants thousands of buckets), and
  * an O(parts)-per-row rank turns the bucketing itself into the
  * bottleneck precisely when the data is large. Binary search keeps
  * it O(log parts): ~12 compares at 4096 buckets vs 4096. The bound
  * array lives once per task via codegen's reference mechanism — no
  * per-row materialization of the literal array at all.
  */
case class SortedBucket(child: Expression, bounds: Array[Long])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_bucket requires a bigint argument, got ${child.dataType}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_bucket"

  override protected def nullSafeEval(v: Any): Any =
    SortedBucket.bucket(bounds, v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("sortedBucketBounds", bounds, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.SortedBucket.bucket($arr, $v);")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedBucket =
    copy(child = newChild)
}

object SortedBucket {
  /** Count of `bounds` elements strictly less than `v`, for a
    * sorted-distinct `bounds`. An exact hit at index i contributes i
    * (the value is NOT greater than its own bound — upper-inclusive
    * buckets); a miss contributes the insertion point. */
  def bucket(bounds: Array[Long], v: Long): Int = {
    val r = Arrays.binarySearch(bounds, v)
    if (r >= 0) r else -r - 1
  }
}
