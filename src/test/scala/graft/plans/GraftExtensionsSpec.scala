package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.{functions => gf}

/** Own session (not SparkSpec's): extensions must be installed at
  * session build time. */
class GraftExtensionsSpec extends AnyFunSuite with Matchers {

  private lazy val spark: SparkSession = {
    // getOrCreate() would reuse the shared test session (built WITHOUT
    // extensions); clear the defaults so this builder really applies
    // spark.sql.extensions. The SparkContext itself is still shared.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      // spark.sql.extensions is a STATIC conf — inert once another
      // session exists in the JVM (the shared test context), so use the
      // programmatic injection path; production sessions use the conf.
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("the SQL surface is exactly the functions a query reaches") {
    // Each name exposes an expression some query or pipeline stage
    // reaches through the Column API; adding or dropping one is a
    // deliberate change to this list.
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == classOf[GraftExtensions].getName)
      .map(_.name).toSet
    registered shouldBe Set(
      "stable_hash60", "shingle_tokens", "rolling_hash_windows",
      "dot_product", "sorted_intersect_size", "bloom_probe", "pii_scrub",
      "ngram_dup_stats", "token_class_counts", "normalize_text",
      "interleave_bits", "freq_sketch", "vec_outer_sum", "quant_sweep")
  }

  test("normalize_text SQL function: NFC + control strip + collapse from plain SQL") {
    import spark.implicits._
    // NOTE: Spark's chr() is mod-256 (DuckDB's is a code point), so
    // the combining acute is embedded in the SQL text directly.
    spark.sql(
      "SELECT normalize_text(concat('  a', chr(9), chr(7), ' b  c', " +
        "'e\u0301', '  ')) AS c")
      .as[String].collect().head shouldBe "a b c\u00e9" // precomposed
  }

  test("interleave_bits SQL function: Morton interleave of literal ranks") {
    import spark.implicits._
    spark.sql("SELECT interleave_bits(3L, 2L, 2) AS z")
      .as[Long].collect().head shouldBe 13L // 0b1101
    spark.sql("SELECT interleave_bits(1L, 1L, 1L, 1L, 1) AS z")
      .as[Long].collect().head shouldBe 15L // all four bit-0 lanes set
  }

  test("token_class_counts SQL function: word runs + punct code points") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT token_class_counts('hi there, world!').n_words AS w, " +
        "token_class_counts('hi there, world!').n_punct AS p")
      .as[(Long, Long)].collect().head
    r shouldBe ((3L, 2L))
  }

  test("pii_scrub SQL function: chained-replace semantics from plain SQL") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT pii_scrub('123-45a@b.co or 1.2.3.4 and x@y.io') AS p")
      .select($"p.n_email", $"p.n_ip", $"p.n_phone", $"p.scrubbed")
      .as[(Long, Long, Long, String)].collect().head
    r shouldBe ((2L, 1L, 1L, "123-<EMAIL> or <IP> and <EMAIL>"))
  }

  test("ngram_dup_stats SQL function: fused repetition profile from plain SQL") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT ngram_dup_stats('a b a b a') AS st")
      .select($"st.n_toks", $"st.d2", $"st.d3")
      .as[(Int, Int, Int)].collect().head
    r shouldBe ((5, 2, 2))
  }

  test("stable_hash60 SQL function matches the Column-composed stableHash bit-for-bit") {
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT stable_hash60('x') AS h, stable_hash60('graft engine') AS h2")
      .as[(Long, Long)].collect().head
    val viaCols = Seq(("x", "graft engine")).toDF("a", "b")
      .select(gf.stableHash($"a"), gf.stableHash($"b"))
      .as[(Long, Long)].collect().head
    viaSql shouldBe viaCols
  }

  test("StableHash60 survives codegen (evaluates inside a projection over rows)") {
    import spark.implicits._
    val n = 1000
    val df = (1 to n).map(i => s"doc $i").toDF("t")
      .select(org.apache.spark.sql.graft.CatalystBridge.column(
        StableHash60(org.apache.spark.sql.graft.CatalystBridge.expr(col("t")))).as("h"))
    df.distinct().count() shouldBe n
    df.filter($"h" < 0).count() shouldBe 0
  }

  test("shingle_tokens / rolling_hash_windows / dot_product SQL functions work") {
    val row = spark.sql(
      """SELECT shingle_tokens('a b c d', 3) AS sh,
        |  size(rolling_hash_windows('a b c d e', 4)) AS n_rh,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  sorted_intersect_size(array('a','b','c'), array('b','c','x')) AS sis
        |""".stripMargin).collect().head
    row.getSeq[String](0) shouldBe Seq("a b c", "b c d")
    row.getInt(1) shouldBe 2
    row.getDouble(2) shouldBe 11.0
    row.getInt(3) shouldBe 2
  }

  test("bloom_probe SQL function probes a serialized filter hex literal") {
    import spark.implicits._
    val bytes = BloomProbe.serialize(
      Seq("alpha", "beta").toDF("v").stat.bloomFilter("v", 100, 0.01))
    val hex = bytes.map("%02X".format(_)).mkString
    val row = spark.sql(
      s"""SELECT bloom_probe(X'$hex', 'alpha') AS hit,
         |  bloom_probe(X'$hex', 'zzz_absent') AS miss,
         |  bloom_probe(X'$hex', CAST(NULL AS STRING)) AS nul
         |""".stripMargin).collect().head
    row.getBoolean(0) shouldBe true
    // Murmur is seed-fixed, so this is deterministic, not a flake risk.
    row.getBoolean(1) shouldBe false
    row.isNullAt(2) shouldBe true
  }

  test("freq_sketch SQL aggregate returns <=k bracketed heavy hitters") {
    val rows = spark.sql(
      """SELECT hh.item, hh.count_min, hh.err FROM (
        |  SELECT explode(freq_sketch(v, 4)) AS hh FROM (
        |    SELECT explode(array('a','a','a','b','b','c','d','e','f')) AS v))
        |""".stripMargin).collect()
    rows.length should be <= 4
    val byItem = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 'a' (freq 3 > 9/5) must survive, count bracketed.
    val (aMin, aErr) = byItem("a")
    aMin should be <= 3L
    3L should be <= (aMin + aErr)
  }

  test("vec_outer_sum SQL aggregate: one-row moments from plain SQL") {
    val row = spark.sql(
      """SELECT s.n AS n, s.dim AS d, s.mean[0] AS m0, s.cov[3] AS c11 FROM (
        |  SELECT vec_outer_sum(v) AS s FROM (
        |    SELECT explode(array(array(1.0D, 2.0D), array(3.0D, 6.0D))) AS v))
        |""".stripMargin).collect().head
    row.getLong(0) shouldBe 2L
    row.getInt(1) shouldBe 2
    row.getDouble(2) shouldBe 2.0 +- 1e-15 // mean of 1, 3
    row.getDouble(3) shouldBe 8.0 +- 1e-12 // var_samp of 2, 6
  }

  test("dot_product null semantics match the composed aggregate(zip_with) form") {
    val row = spark.sql(
      """SELECT
        |  dot_product(array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)) AS elem_null,
        |  aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D),
        |    (x, y) -> x * y), 0.0D, (a, x) -> a + x) AS composed_elem_null,
        |  dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS arr_null
        |""".stripMargin).collect().head
    row.isNullAt(0) shouldBe true
    row.isNullAt(1) shouldBe true // the form we claim to match
    row.isNullAt(2) shouldBe true
  }
}
