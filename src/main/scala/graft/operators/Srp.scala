package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Signed-random-projection (SRP) sketching for embedding columns
  * (Charikar 2002, random-hyperplane LSH — public knowledge): `Bits`
  * sign bits of deterministic ±1 projections compress a float vector
  * to `Bits/8` bytes, and Hamming distance on the sketch estimates
  * the angle. Used by q161's fidelity census.
  *
  * Determinism discipline (the q130 lesson): the sign matrix is drawn
  * ONCE from md5 (the T17/T90 draw — no RNG), and the per-bit sign
  * decision is made on EXACT LONG projections of floor(x·2^15)
  * quantized components — a raw-double projection sum would flip its
  * sign bit under re-partitioning whenever a projection lands near
  * zero. |eq| < 2^24 and Dims = 64 keep every projection far inside
  * a long.
  */
object Srp {

  val Bits = 32
  val Dims = 64

  /** sign(b, i) ∈ {+1, −1} from bit 0 of byte 0 of md5("b:i") —
    * literals embedded in BOTH engines' plans (the q157
    * constant-table pattern; no libm / RNG at query time). */
  lazy val signs: Array[Array[Long]] =
    Array.tabulate(Bits, Dims) { (b, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1L else -1L
    }

  /** The `Bits`-bit sketch over an `array<double>` vector: bit b set
    * iff Σᵢ floor(eᵢ·2^15)·sign(b,i) > 0. Exact long sums; ties
    * (Σ = 0) are bit 0 in both engines by the same strict inequality.
    * Backed by the fused codegen node [[graft.plans.SrpSketch]] — the
    * 32-fold zip_with/aggregate composition it replaces dominated the
    * corpus pass (32 array allocations + interpreted folds per row). */
  def sketch(e: Column): Column = {
    import org.apache.spark.sql.graft.CatalystBridge
    CatalystBridge.column(graft.plans.SrpSketch(CatalystBridge.expr(e)))
  }

  /** Scala-side twin of [[sketch]] over already-quantized components
    * — bit-identical by sharing [[signs]] and the same strict-positive
    * rule. */
  def sketchOf(eq: Array[Long]): Long = {
    require(eq.length == Dims, s"expected $Dims components: ${eq.length}")
    var sk = 0L
    var b = 0
    while (b < Bits) {
      var acc = 0L
      var i = 0
      while (i < Dims) { acc += eq(i) * signs(b)(i); i += 1 }
      if (acc > 0) sk |= (1L << b)
      b += 1
    }
    sk
  }
}
