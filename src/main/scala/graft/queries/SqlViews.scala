package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import graft.Tables

/** The BI virtual-dataset surface (SURVEY §3.3): named temp views +
  * `spark.sql` — the engine's equivalent of the reference's Superset
  * virtual datasets (superset.db `tables` rows 2/3/5, LEFT JOIN
  * flattening) and saved SQL-Lab queries. Same Catalyst plans as the
  * DataFrame builders; this is the surface a SQL-first user gets.
  */
object SqlViews {

  private val ViewTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** What one session's views were last registered from: the
    * [[Tables]] resolutions, and the catalog entries they became. */
  private final case class Registration(tables: Seq[Tables.Resolved],
      views: Seq[AnyRef])

  private val registered = new ConcurrentHashMap[SparkSession, Registration]()

  /** Register every testdata table as a temp view named as in the
    * oracle SQL, so spark.sql text is portable between engine and
    * oracle.
    *
    * Registers once per (session, dir): a later call re-registers only
    * when a table's [[Tables]] resolution changed (its file fingerprint
    * changed, or `sfDir` names other files) or a view was replaced or
    * dropped since. Otherwise it costs the 9 fingerprint listings and
    * launches no Spark job. The fingerprint's granularity caveat is
    * [[graft.sources.SharedTable.dirFingerprint]]'s. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val tables = ViewTables.map(Tables.resolve(spark, sfDir, _))
    def views = ViewTables.map(spark.sessionState.catalog.getRawTempView(_).orNull)
    if (!registered.containsKey(spark))
      registered.keySet.removeIf(_.sparkContext.isStopped)
    registered.compute(spark, (_, prev) =>
      if (prev != null && prev.tables.corresponds(tables)(_ eq _) &&
          prev.views.corresponds(views)(_ eq _)) prev
      else {
        ViewTables.zip(tables).foreach { case (t, r) =>
          r.frame().createOrReplaceTempView(t) }
        Registration(tables, views)
      })
  }

  private def sqlQuery(name: String, engineSql: String, oracleSql: String) =
    QueryDef(name, oracleSql) { (s, dir) =>
      registerViews(s, dir)
      s.sql(engineSql)
    }

  val defs: Seq[QueryDef] = Seq(
    // The star-flatten virtual dataset as a VIEW + aggregate on top —
    // LEFT JOIN chain like superset tables row 2/5.
    sqlQuery("q44_sql_view_flatten",
      engineSql = """
        |WITH order_analytics AS (
        |  SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate,
        |         c.c_mktsegment, n.n_name
        |  FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |)
        |SELECT n_name, c_mktsegment, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) + 0.0 AS total_price
        |FROM order_analytics
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin,
      oracleSql = """
        |WITH order_analytics AS (
        |  SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate,
        |         c.c_mktsegment, n.n_name
        |  FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |)
        |SELECT n_name, c_mktsegment, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) + 0.0 AS total_price
        |FROM order_analytics
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin),

    // Saved-query shape: top-k with a HAVING guard (superset id=11
    // analog, SQL-first form).
    sqlQuery("q45_sql_topk_having",
      engineSql = """
        |SELECT p_brand, count(*) AS cnt,
        |       round(avg(p_retailprice), 2) + 0.0 AS avg_price
        |FROM part
        |GROUP BY p_brand
        |HAVING count(*) >= 5
        |ORDER BY cnt DESC, p_brand
        |LIMIT 15""".stripMargin,
      oracleSql = """
        |SELECT p_brand, count(*) AS cnt,
        |       round(avg(p_retailprice), 2) + 0.0 AS avg_price
        |FROM part
        |GROUP BY p_brand
        |HAVING count(*) >= 5
        |ORDER BY cnt DESC, p_brand
        |LIMIT 15""".stripMargin))
}
