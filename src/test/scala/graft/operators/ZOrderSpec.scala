package graft.operators

import org.apache.spark.sql.graft.CatalystBridge

import graft.SparkSpec
import graft.plans.InterleaveBits

/** Pins the Morton interleave kernel behind q101, [[InterleaveBits]]. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Bit-by-bit reference: output bit i*n+d = bit i of dim d. */
  private def reference(vs: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits; d <- vs.indices)
      z |= ((math.max(vs(d), 0L) >>> i) & 1L) << (i * vs.length + d)
    z
  }

  test("interleave2/3/4 match the bit-by-bit definition (fuzz + knowns)") {
    InterleaveBits.interleave2(3L, 2L, 2) shouldBe 13L // 0b1101
    InterleaveBits.interleave2(0L, 0L, 8) shouldBe 0L
    InterleaveBits.interleave2(-5L, 1L, 4) shouldBe
      InterleaveBits.interleave2(0L, 1L, 4) // negatives clamp to 0
    val rnd = new scala.util.Random(17)
    (0 until 200).foreach { _ =>
      val bits = 1 + rnd.nextInt(15)
      val a = rnd.nextLong() & ((1L << bits) - 1)
      val b = rnd.nextLong() & ((1L << bits) - 1)
      val c = rnd.nextLong() & ((1L << bits) - 1)
      val d = rnd.nextLong() & ((1L << bits) - 1)
      InterleaveBits.interleave2(a, b, bits) shouldBe
        reference(Seq(a, b), bits)
      InterleaveBits.interleave3(a, b, c, bits) shouldBe
        reference(Seq(a, b, c), bits)
      InterleaveBits.interleave4(a, b, c, d, bits) shouldBe
        reference(Seq(a, b, c, d), bits)
      // bits above bitsPerDim are ignored
      InterleaveBits.interleave2(a | (1L << bits), b, bits) shouldBe
        InterleaveBits.interleave2(a, b, bits)
    }
  }

  test("expression: codegen path, null propagation, analysis errors") {
    val df = Seq((1L, 2L), (3L, 0L)).toDF("a", "b")
    val got = df.select(CatalystBridge.column(InterleaveBits(
        Seq(CatalystBridge.expr($"a"), CatalystBridge.expr($"b")), 4)))
      .as[Long].collect().sorted
    got shouldBe Array(
      InterleaveBits.interleave2(1L, 2L, 4),
      InterleaveBits.interleave2(3L, 0L, 4)).sorted
    // null in either dim → null out
    val withNull = Seq((Some(1L), None: Option[Long]), (Some(1L), Some(1L)))
      .toDF("a", "b")
      .select(CatalystBridge.column(InterleaveBits(
        Seq(CatalystBridge.expr($"a"), CatalystBridge.expr($"b")), 4)).as("z"))
      .collect()
    withNull.count(_.isNullAt(0)) shouldBe 1
    // arity and width violations fail analysis, not execution
    intercept[Exception] {
      df.select(CatalystBridge.column(InterleaveBits(
        Seq(CatalystBridge.expr($"a")), 4))).collect()
    }
    intercept[Exception] {
      df.select(CatalystBridge.column(InterleaveBits(
        Seq(CatalystBridge.expr($"a"), CatalystBridge.expr($"b")), 40)))
        .collect()
    }
  }

  // SQL registration (`interleave_bits`) is covered in
  // GraftExtensionsSpec — extensions install at session build time.
}
