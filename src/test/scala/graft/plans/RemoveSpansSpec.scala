package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

import graft.SparkSpec

/** RemoveSpans (fused skip-spans rebuild) vs the explode/anti-join/
  * collect shape it replaced (PERF #55): identical (kept, cleaned) on
  * a corpus that exercises duplicated spans at doc start/middle/end,
  * adjacent islands, fully-covered docs, token-free docs, multi-byte
  * tokens, and docs with no spans at all. Also pins interpreted ≡
  * codegen and the null/empty-array semantics the q173/q178 call
  * sites rely on. */
class RemoveSpansSpec extends SparkSpec {
  import spark.implicits._

  private def fused(t: Column, s: Column, e: Column): Column =
    CatalystBridge.column(RemoveSpans(CatalystBridge.expr(t),
      CatalystBridge.expr(s), CatalystBridge.expr(e)))

  /** The old rebuild, op for op (posexplode + anti join + per-doc
    * collect_list/array_sort/array_join), as the parity reference. */
  private def oldRebuild(docs: DataFrame, spans: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(graft.functions.tokens(col("text")))
        .as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0").cast("long") + 1L).as("p"),
        col("tok"))
    val kept = tok.join(spans,
      tok("doc_id") === spans("doc_id") &&
        col("p").between(col("s"), col("e")), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("cleaned"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kept"), lit(0L)).as("kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  private def newRebuild(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        sort_array(collect_list(col("e"))).as("es"))
    val emptyPos = typedLit(Array.empty[Long])
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        fused(graft.functions.tokens(col("text")),
          coalesce(col("ss"), emptyPos),
          coalesce(col("es"), emptyPos)).as("rs"))
      .select(col("doc_id"), col("rs.kept").as("kept"),
        col("rs.cleaned").as("cleaned"))
  }

  // Docs sharing 6-token windows so duplicatedSpans emits real islands:
  // d1/d2 share a long run (mid-doc spans), d3 is a full copy of d1
  // (fully covered), d4 short (< 6 tokens, no windows), d5 empty, d6
  // whitespace-only, d7 unique long doc (no spans), d8/d9 share the
  // run at doc START and END respectively, d10 multi-byte tokens
  // shared with d11.
  private val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val docs = Seq(
    (1L, s"one two $run three four"),
    (2L, s"x y z $run p q r"),
    (3L, s"one two $run three four"),
    (4L, "tiny doc here"),
    (5L, ""),
    (6L, "   \t  "),
    (7L, "entirely unique words never repeated anywhere in this corpus today"),
    (8L, s"$run tail words after the shared block"),
    (9L, s"lead words before the shared block $run"),
    (10L, "héllo wörld ünïcode tökens shäred across döcs exactly here now"),
    (11L, "héllo wörld ünïcode tökens shäred across döcs exactly here now")
  ).toDF("doc_id", "text")

  test("parity with the explode shape on the island corpus") {
    val wins = docs.select(col("doc_id"),
      posexplode(CatalystBridge.column(RollingHashWindows(
        CatalystBridge.expr(trim(col("text"))), 6))).as(Seq("p", "wh")))
      .select(col("doc_id"), (col("p").cast("long") + 1L).as("i"), col("wh"))
    val spans = graft.operators.Dedup.duplicatedSpans(wins, 6)
    val a = newRebuild(docs, spans).orderBy("doc_id").collect()
    val b = oldRebuild(docs, spans).orderBy("doc_id").collect()
    a.length shouldBe b.length
    a.zip(b).foreach { case (n, o) =>
      withClue(s"doc ${n.getLong(0)}: ") { n shouldBe o }
    }
    // the corpus must actually exercise removal — at least one doc
    // loses tokens and at least one is fully covered
    val removed = a.map(r => (r.getLong(0), r.getLong(1)))
    assert(removed.exists(_._2 == 0L), "a fully-covered doc must exist")
    assert(a.exists(r => r.getString(2).nonEmpty && r.getLong(1) > 0))
  }

  test("interpreted eval matches codegen") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq(2L), Seq(3L)),
      (2L, Seq("a", "b"), Seq.empty[Long], Seq.empty[Long]),
      (3L, Seq.empty[String], Seq.empty[Long], Seq.empty[Long]),
      (4L, Seq("x", "y", "z"), Seq(1L), Seq(3L))
    ).toDF("id", "t", "s", "e")
    def run(): Array[org.apache.spark.sql.Row] =
      df.select(col("id"), fused(col("t"), col("s"), col("e")).as("r"))
        .orderBy("id").collect()
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try run() shouldBe gen
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // spot-check semantics: span [2,3] over (a,b,c,d) keeps (a,d);
    // full cover yields (0, ""); no spans keeps everything
    gen(0).getStruct(1).getLong(0) shouldBe 2L
    gen(0).getStruct(1).getString(1) shouldBe "a d"
    gen(1).getStruct(1).getString(1) shouldBe "a b"
    gen(2).getStruct(1).getLong(0) shouldBe 0L
    gen(2).getStruct(1).getString(1) shouldBe ""
    gen(3).getStruct(1).getLong(0) shouldBe 0L
    gen(3).getStruct(1).getString(1) shouldBe ""
  }

  test("null array inputs yield a null struct") {
    val df = Seq((1L, Option.empty[Seq[String]], Some(Seq(1L)), Some(Seq(2L))),
      (2L, Some(Seq("a")), Option.empty[Seq[Long]], Some(Seq(2L))))
      .toDF("id", "t", "s", "e")
    val out = df.select(fused(col("t"), col("s"), col("e")).as("r"))
      .collect()
    assert(out.forall(_.isNullAt(0)))
  }
}
