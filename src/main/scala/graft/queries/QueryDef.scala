package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One scoring-surface entry: a Spark DataFrame builder plus (usually) an
  * equivalent DuckDB SQL oracle over the same parquet tables.
  *
  * Contract (driver harness, see /root/repo/SparkEntry contract):
  *   - column names MUST match between the Spark result and the oracle —
  *     the driver sorts columns by name before hashing values;
  *   - results are made fully deterministic: every query ends in a total
  *     ORDER BY (all ties broken), aggregates over doubles are rounded so
  *     Spark's partition-order summation and DuckDB's sequential
  *     summation agree bit-for-bit after rounding;
  *   - `oracle = None` marks genuinely non-SQL-expressible ops (driver
  *     falls back to a rows-only check).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))
}
