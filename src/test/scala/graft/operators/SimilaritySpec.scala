package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // Deterministic synthetic corpus: 3 well-separated clusters.
  private lazy val corpus = {
    val rows = (0 until 90).map { i =>
      val cluster = i % 3
      val base = Array.fill(8)(0.05f)
      base(cluster * 2) = 1.0f + (i / 3) * 0.01f
      base(cluster * 2 + 1) = 0.5f
      (i.toLong, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK returns k ranked neighbors per query, self excluded") {
    val got = Similarity.bruteForceTopK(corpus,
      corpus.filter($"vec_id" < 3), k = 4)
    got.groupBy("qid").count().as[(Long, Long)].collect().toMap shouldBe
      Map(0L -> 4L, 1L -> 4L, 2L -> 4L)
    got.filter($"qid" === $"vec_id").count() shouldBe 0
    // Nearest neighbors of a cluster member are in the same cluster.
    val n0 = got.filter($"qid" === 0).select("vec_id").as[Long].collect()
    all(n0.map(_ % 3)) shouldBe 0L
    // Ranks are dense 1..k in cosine order.
    got.filter($"qid" === 0).orderBy("rank").select("rank")
      .as[Long].collect() shouldBe Array(1L, 2L, 3L, 4L)
  }

  test("ivfTopK achieves full recall on separated clusters") {
    val queries = corpus.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, k = 4,
      nCentroids = 9, nprobe = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // On well-separated clusters the probed buckets contain the true
    // neighbors → recall 1.0.
    approx shouldBe exact
  }

  test("knnJoin: full recall vs brute force on separated clusters, heap plan not window") {
    // Every vector is a query: the graph must agree with N brute-force
    // searches when the probed buckets cover the true neighbors.
    val exact = Similarity.bruteForceTopK(corpus, corpus, k = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val graph = Similarity.knnJoin(corpus, k = 4, nCentroids = 9, nprobe = 3)
    val approx = graph.select("qid", "vec_id").as[(Long, Long)].collect().toSet
    approx shouldBe exact
    // Ranks dense 1..k for every query.
    graph.groupBy("qid")
      .agg(count(lit(1)).as("c"), max("rank").as("m"), min("rank").as("lo"))
      .as[(Long, Long, Long, Long)].collect().foreach { case (q, c, m, lo) =>
        withClue(s"qid $q: ") { (c, m, lo) shouldBe ((4L, 4L, 1L)) }
      }
    // The candidate volume must meet TopKPerKey's bounded heap, never a
    // windowed sort: the only Window in the plan is the rank re-derive
    // OVER the already k-bounded output (child of the window = TopKPerKey).
    val p = graph.queryExecution.executedPlan.toString
    p should include("TopKPerKey")
  }

  test("knnJoin: distinct-content collapse is row-identical to raw semantics on a dup-heavy corpus") {
    // The sf10x pathology: every vector replicated many times. The
    // collapse must reproduce the RAW per-row semantics exactly —
    // same (qid, vec_id, cos, rank) rows, including intra-group id
    // tie-breaks and the head-truncation boundary. Replicas get
    // INTERLEAVED ids so group member order ≠ insertion order.
    val base = (0 until 18).map { g =>
      val cluster = g % 3
      val arr = Array.fill(8)(0.05f)
      arr(cluster * 2) = 1.0f + (g / 3) * 0.02f
      arr(cluster * 2 + 1) = 0.5f
      arr.toSeq
    }
    val dupCorpus = (0 until 18 * 7).map { i =>
      (i.toLong, base(i % 18)) // id i carries content i mod 18
    }.toDF("vec_id", "embedding")

    // Raw-semantics reference: the pre-collapse windowed algorithm,
    // spelled directly over raw rows (fine at test scale).
    import org.apache.spark.sql.expressions.Window
    val cent = Similarity.trainCentroids(dupCorpus, nCentroids = 6)
    val c = dupCorpus.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm", Similarity.norm(col("e")))
    val assigned = Similarity.assignToCentroids(c, cent)
    val pw = Window.partitionBy("qid").orderBy(desc("qsim"), asc("bucket"))
    val probes = c.join(broadcast(cent), lit(true))
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"), col("cent_id").as("bucket"),
        (Similarity.dot(col("e"), col("ce")) / (col("nrm") * col("cn")))
          .as("qsim"))
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= 2)
    val cosE = Similarity.dot(col("qe"), col("e")) / (col("qn") * col("nrm"))
    val rw = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
    val raw = assigned.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), graft.functions.roundz(cosE, 6).as("cos"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= 4)
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet

    val got = Similarity.knnJoin(dupCorpus, k = 4, nCentroids = 6,
        nprobe = 2)
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    got shouldBe raw
    got.size shouldBe 18 * 7 * 4 // every row got its dense top-4
  }

  test("appendToIndex: frozen-quantizer ingest — grown index ≡ built-from-union, order-free") {
    // Split the corpus: build on the first 60 vectors, append the rest
    // in two batches. Under frozen centroids, assignment is a
    // per-vector content function, so the grown index must return
    // EXACTLY what brute force returns at covering probes (nprobe =
    // nlist ⇒ candidates = everything but self), and append order
    // must not matter.
    val baseCorpus = corpus.filter($"vec_id" < 60)
    val batch1 = corpus.filter($"vec_id" >= 60 && $"vec_id" < 75)
    val batch2 = corpus.filter($"vec_id" >= 75)
    val idx = Similarity.buildIndex(baseCorpus, "ivf_append_a",
      nCentroids = 9)
    Similarity.appendToIndex(idx, batch1)
    Similarity.appendToIndex(idx, batch2)
    val queries = corpus.filter($"vec_id".isin(0L, 62L, 89L))
    val got = Similarity.ivfTopK(idx, queries, k = 4, nprobe = 9,
        idCol = "vec_id", embCol = "embedding")
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 4)
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    got shouldBe brute
    // Order-free: the reverse append order yields identical probes.
    val idx2 = Similarity.buildIndex(baseCorpus, "ivf_append_b",
      nCentroids = 9)
    Similarity.appendToIndex(idx2, batch2)
    Similarity.appendToIndex(idx2, batch1)
    val got2 = Similarity.ivfTopK(idx2, queries, k = 4, nprobe = 9,
        idCol = "vec_id", embCol = "embedding")
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    got2 shouldBe got
    // The appended rows carry content-determined buckets: recomputing
    // the assignment under the frozen centroids matches the table.
    val cent = spark.table(idx.centroidTable)
    val reassigned = Similarity.assignToCentroids(
        batch1.union(batch2).select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("e"))
          .withColumn("nrm", Similarity.norm(col("e"))),
        cent)
      .select(col("vec_id"), col("bucket"))
      .as[(Long, Long)].collect().toMap
    spark.table(idx.assignedTable).filter($"vec_id" >= 60)
      .select(col("vec_id"), col("bucket"))
      .as[(Long, Long)].collect().toMap shouldBe reassigned
  }

  test("appendHealth: heavy appends trip the stale/rebuild flags; a light append stays quiet") {
    import org.apache.spark.sql.functions._
    // HEAVY: train on 21 vectors, append 69 (77% appended) — every
    // bucket becomes mostly post-train mass, so flag_stale fires per
    // bucket and the global rebuild trigger reads 1 on every row.
    val base = corpus.filter($"vec_id" < 21)
    val heavy = Similarity.buildIndex(base, "health_heavy", nCentroids = 9)
    val baseCounts = spark.table(heavy.assignedTable)
      .groupBy("bucket").agg(count(lit(1)).as("n_base"))
      .collect().toSeq
    val bc = spark.createDataFrame(
      java.util.Arrays.asList(baseCounts: _*),
      spark.table(heavy.assignedTable)
        .groupBy("bucket").agg(count(lit(1)).as("n_base")).schema)
    Similarity.appendToIndex(heavy, corpus.filter($"vec_id" >= 21))
    val census = Similarity.appendHealth(heavy, bc)
    census.agg(sum("n_base"), sum("n_app"))
      .as[(Long, Long)].collect().head shouldBe ((21L, 69L))
    // n_app = n_total - n_base per bucket, fractions in [0, 1]
    census.filter($"n_app" + $"n_base" =!= $"n_total").count() shouldBe 0
    census.select(max("rebuild")).as[Long].collect().head shouldBe 1L
    census.select(min("rebuild")).as[Long].collect().head shouldBe 1L
    census.filter($"flag_stale" === 1).count() should be >= 1L
    // LIGHT: same base, nothing appended — all-zero append mass, no
    // stale flag anywhere; rebuild may only fire via load skew.
    val quiet = Similarity.buildIndex(base, "health_quiet", nCentroids = 9)
    val quietCensus = Similarity.appendHealth(quiet, bc)
    quietCensus.agg(sum("n_app")).as[Long].collect().head shouldBe 0L
    quietCensus.filter($"flag_stale" === 1).count() shouldBe 0L
    quietCensus.select(max("app_frac")).as[Double].collect().head shouldBe 0.0
  }

  test("appendToIndex rejects fingerprint-memoized (shared) index names") {
    // The shared-stem tables (3-arg indexName: stem_f<fingerprint>) are
    // memoized as pure functions of the corpus dir — a fingerprint
    // rebuild would silently discard appended rows, and oracle-gated
    // consumers treat the assigned table as exactly the corpus
    // assignment. The append path must refuse them loudly.
    val idx = Similarity.IvfIndex(
      "ivf_root_x_f0123456789_centroids", "ivf_root_x_f0123456789_assigned")
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIndex(idx, corpus)
  }

  test("hash-seeded + Lloyd centroids keep recall on skewed, order-adversarial clusters") {
    // Adversarial for the old first-N seeding: ids 0..15 (the would-be
    // centroids) ALL sit in the dominant cluster, and two small
    // clusters live at high ids only. Hash seeding is id-layout
    // independent and Lloyd refinement pulls centroids toward the
    // actual mass, so the probed buckets must still cover the true
    // neighbors.
    val rows = (0 until 120).map { i =>
      val cluster = if (i < 100) 0 else if (i < 110) 1 else 2
      val base = Array.fill(8)(0.05f)
      base(cluster * 2) = 1.0f + (i % 17) * 0.01f
      base(cluster * 2 + 1) = 0.5f
      (i.toLong, base.toSeq)
    }
    val skewed = rows.toDF("vec_id", "embedding")
    // one query per cluster, including the 10-member minority ones
    val queries = skewed.filter($"vec_id".isin(0L, 105L, 115L))
    val exact = Similarity.bruteForceTopK(skewed, queries, k = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(skewed, queries, k = 4,
      nCentroids = 8, nprobe = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    recall should be >= 1.0 // separated clusters: nothing less is acceptable
    // and the index is not degenerate: corpus occupies several buckets
    val buckets = Similarity.trainCentroids(skewed, nCentroids = 8)
      .select("cent_id").as[Long].collect()
    buckets.length should be > 1
  }

  test("trainCentroids is layout-independent: same centroids under any input partitioning") {
    val a = Similarity.trainCentroids(corpus, nCentroids = 6)
      .select("cent_id", "ce").as[(Long, Seq[Double])].collect().sortBy(_._1)
    val b = Similarity.trainCentroids(corpus.repartition(7).sortWithinPartitions(desc("vec_id")), nCentroids = 6)
      .select("cent_id", "ce").as[(Long, Seq[Double])].collect().sortBy(_._1)
    a shouldBe b
  }

  test("persisted index: probe results == inline ivfTopK, and reuse runs ZERO jobs") {
    val queries = corpus.filter($"vec_id" < 3)
    val inline = Similarity.ivfTopK(corpus, queries, k = 4,
        nCentroids = 9, nprobe = 3)
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet

    val idx = Similarity.buildIndex(corpus, "ivf_spec_reuse",
      nCentroids = 9, numBuckets = 4)
    val probed = Similarity.ivfTopK(idx, queries, k = 4, nprobe = 3,
        idCol = "vec_id", embCol = "embedding")
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    probed shouldBe inline

    // Index reuse: a second indexFor with the same name must find the
    // persisted tables and trigger NO Spark jobs (no retraining, no
    // assignment pass).
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // The bus is async FIFO: sentinel A flushes any straggler events
      // from the collects above; everything counted after n0 started
      // after A — i.e. inside the indexFor window. RDD count is exactly
      // ONE job (a SQL sentinel could be several under AQE).
      def flushWith(atLeast: Int): Unit = {
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis + 30000
        while (jobs.get() < atLeast && System.currentTimeMillis < deadline)
          Thread.sleep(20)
      }
      flushWith(1)
      val n0 = jobs.get()
      val idx2 = Similarity.indexFor(corpus, "ivf_spec_reuse",
        nCentroids = 9, numBuckets = 4)
      idx2 shouldBe idx
      flushWith(n0 + 1)
      jobs.get() shouldBe (n0 + 1) // ONLY sentinel B — indexFor ran no jobs
    } finally spark.sparkContext.removeSparkListener(listener)

    // and the reused index still answers correctly
    Similarity.ivfTopK(idx, queries, k = 4, nprobe = 3,
        idCol = "vec_id", embCol = "embedding")
      .select("qid", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet shouldBe inline
  }

  test("the persisted assignment table is bucketed on the probe join key") {
    val idx = Similarity.indexFor(corpus, "ivf_spec_reuse",
      nCentroids = 9, numBuckets = 4)
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        idx.assignedTable))
    cat.bucketSpec.map(_.bucketColumnNames) shouldBe Some(Seq("bucket"))
    cat.bucketSpec.map(_.numBuckets) shouldBe Some(4)
  }

  test("ivfTopK searches buckets, not all pairs: candidate join is an equi-join") {
    val plan = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" < 3), k = 4)
      .queryExecution.optimizedPlan.toString
    // The final search join must carry the bucket equality predicate.
    plan should include("bucket")
  }

  // Labeled twin of `corpus`: label = cluster id, so "hard negatives"
  // of a cluster member are the nearest OTHER-cluster vectors.
  private lazy val labeled = {
    val rows = (0 until 90).map { i =>
      val cluster = i % 3
      val base = Array.fill(8)(0.05f)
      base(cluster * 2) = 1.0f + (i / 3) * 0.01f
      base(cluster * 2 + 1) = 0.5f
      (i.toLong, base.toSeq, cluster)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("hardNegatives: never a same-label row, ranks dense, nearest other-cluster first") {
    val queries = labeled.filter($"vec_id" < 3)
    val got = Similarity.hardNegatives(labeled, queries, k = 4)
    // No returned neighbor shares the query's label (self excluded for free).
    val lbl = labeled.select($"vec_id".as("nid"), $"label".as("nlabel"))
    val qlbl = labeled.select($"vec_id".as("qid"), $"label".as("qlabel"))
    got.join(lbl, $"vec_id" === $"nid").join(qlbl, Seq("qid"))
      .filter($"nlabel" === $"qlabel").count() shouldBe 0
    // Dense ranks 1..k per query.
    got.groupBy("qid")
      .agg(count(lit(1)).as("c"), max("rank").as("m"))
      .as[(Long, Long, Long)].collect().foreach { case (q, c, m) =>
        withClue(s"qid $q: ") { (c, m) shouldBe ((4L, 4L)) }
      }
    // Exhaustive check for qid 0: equals the brute-force ranking
    // restricted to other labels.
    val exact = Similarity.bruteForceTopK(labeled,
        labeled.filter($"vec_id" === 0), k = 90)
      .join(lbl, $"vec_id" === $"nid")
      .filter($"nlabel" =!= 0)
      .orderBy("rank").select("vec_id").as[Long].collect().take(4)
    got.filter($"qid" === 0).orderBy("rank")
      .select("vec_id").as[Long].collect() shouldBe exact
  }
}
