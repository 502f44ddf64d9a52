package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

import graft.SparkSpec

/** Count-Min sketch: the no-undercount guarantee, the ε·N overcount
  * bound, exact layout independence (cell-wise-add merge is
  * commutative over longs), merge ≡ concatenation, and the SQL
  * registration round trip. */
class CmSketchSpec extends SparkSpec {
  import spark.implicits._

  // Zipf-ish deterministic stream: item i appears ~n/i times.
  private def zipf(nItems: Int, scale: Int): Seq[String] =
    (1 to nItems).flatMap(i => Seq.fill(scale / i)(s"item$i"))

  private val Width = 256
  private val Depth = 4

  private def sketchCol(item: Column, width: Int, depth: Int): Column =
    CatalystBridge.column(CmSketch(CatalystBridge.expr(item), width, depth))

  private def estimateCol(sketch: Column, item: Column): Column =
    CatalystBridge.column(
      CmProbe(CatalystBridge.expr(sketch), CatalystBridge.expr(item)))

  test("never undercounts, and overcount stays within the e/width bound") {
    val data = zipf(500, 2000) // 500 distinct, ~15k rows
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = data.toDF("tok")
    val sk = df.agg(sketchCol(col("tok"), Width, Depth).as("s"))
    val probes = truth.keys.toSeq.toDF("tok")
      .crossJoin(sk)
      .select(col("tok"), estimateCol(col("s"), col("tok")).as("est"))
      .as[(String, Long)].collect()
    val n = data.size.toLong
    val bound = math.ceil(math.E / Width * n).toLong // ε·N
    probes.foreach { case (tok, est) =>
      withClue(s"$tok true=${truth(tok)} est=$est: ") {
        est should be >= truth(tok)
        // Pr[overshoot > εN] ≤ e^-depth per item; with fixed data and
        // fixed hashes this is a deterministic property of THIS stream
        // — asserting 3× the bound leaves room without being vacuous.
        est - truth(tok) should be <= 3 * bound
      }
    }
  }

  test("sketch cells are EXACTLY layout-independent") {
    val data = zipf(300, 1000)
    def cells(parts: Int): (Long, Seq[Long]) = {
      val r = data.toDF("tok").repartition(parts)
        .agg(sketchCol(col("tok"), Width, Depth).as("s"))
        .select(col("s.total"), col("s.cells")).collect()(0)
      (r.getLong(0), r.getSeq[Long](1))
    }
    cells(1) shouldBe cells(13)
  }

  test("merge over partitions equals one-pass concatenation semantics") {
    // sketch(A ++ B) must equal the merged per-partition sketches —
    // verified by splitting A and B into explicit halves and comparing
    // against the union built in one partition.
    val a = zipf(100, 500)
    val b = zipf(100, 500).map(_.toUpperCase)
    val whole = (a ++ b).toDF("tok").coalesce(1)
      .agg(sketchCol(col("tok"), Width, Depth).as("s"))
      .select(col("s.cells")).as[Seq[Long]].collect()(0)
    val split = a.toDF("tok").union(b.toDF("tok")).repartition(9)
      .agg(sketchCol(col("tok"), Width, Depth).as("s"))
      .select(col("s.cells")).as[Seq[Long]].collect()(0)
    split shouldBe whole
  }

  test("probe of a persisted sketch row: estimates equal the buffer-local reference") {
    // The serving shape: one sketch row probed by a stream of items —
    // the Column-API estimate must agree with a Buffer built locally.
    val data = zipf(50, 200)
    val sk = data.toDF("tok")
      .agg(sketchCol(col("tok"), Width, Depth).as("s"))
    val ref = new CmSketch.Buffer(Width, Depth)
    data.foreach(s => ref.add(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 1L))
    val probes = (1 to 50).map(i => s"item$i").toDF("tok")
      .crossJoin(sk)
      .select(col("tok"), estimateCol(col("s"), col("tok")).as("est"))
      .as[(String, Long)].collect()
    probes.foreach { case (tok, est) =>
      est shouldBe ref.estimate(
        org.apache.spark.unsafe.types.UTF8String.fromString(tok))
    }
  }

  test("grouped sketches stay per-key (no cross-key leakage)") {
    val rows = Seq.fill(100)("only_a").map(("ka", _)) ++
      Seq.fill(7)("only_b").map(("kb", _))
    val out = rows.toDF("k", "tok").repartition(5)
      .groupBy("k").agg(sketchCol(col("tok"), Width, Depth).as("s"))
      .select(col("k"),
        estimateCol(col("s"), lit("only_a")).as("ea"),
        col("s.total").as("n"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    out(0) shouldBe (("ka", 100L, 100L))
    // kb's sketch never saw only_a; a 256-wide grid with 1 distinct
    // item cannot collide, so the estimate is exactly 0.
    out(1) shouldBe (("kb", 0L, 7L))
  }
}
