package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation primitives.
  *
  * AQE's skew-join handles most runtime skew; these are the explicit
  * forms for when the skew is known up front (a handful of hot keys
  * owning most of the data — the classic power-law entity).
  *
  *   - [[saltedAggregate]]: two-phase aggregation — partial aggregate
  *     on (key, salt), then merge on key. The hot key's rows spread
  *     over `salts` reducers in phase 1; phase 2 merges `salts` tiny
  *     partials. Works for any algebraic aggregate (sum/count/min/max).
  */
object Skew {

  /** One two-phase aggregate: `phase1` runs over the salted groups,
    * `phase2` merges the named partials (e.g. count → sum of counts). */
  final case class TwoPhaseAgg(
      name: String, phase1: Column, phase2: Column => Column)

  val count2p: TwoPhaseAgg = TwoPhaseAgg("cnt", count(lit(1)), sum)
  def sum2p(c: String): TwoPhaseAgg = TwoPhaseAgg(s"sum_$c", sum(col(c)), sum)
  def max2p(c: String): TwoPhaseAgg = TwoPhaseAgg(s"max_$c", max(col(c)), max)

  /** Two-phase aggregation over a skewed key: partial aggregate on
    * (key, salt), then merge on key. Algebraic aggregates only. */
  def saltedAggregate(
      df: DataFrame,
      key: Column,
      keyName: String,
      salts: Int,
      aggs: Seq[TwoPhaseAgg]): DataFrame = {
    val salted = df.withColumn("_salt", (rand(seed = 42) * salts).cast("int"))
    val phase1 = salted
      .groupBy(key.as(keyName), col("_salt"))
      .agg(aggs.head.phase1.as(s"_p_${aggs.head.name}"),
        aggs.tail.map(a => a.phase1.as(s"_p_${a.name}")): _*)
    phase1
      .groupBy(col(keyName))
      .agg(aggs.head.phase2(col(s"_p_${aggs.head.name}")).as(aggs.head.name),
        aggs.tail.map(a => a.phase2(col(s"_p_${a.name}")).as(a.name)): _*)
  }
}
