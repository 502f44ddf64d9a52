package graft.queries

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity
import graft.sources.SharedTable

/** Session-materialized warehouse tables must key on the CORPUS, not
  * the corpus PATH (VERDICT r11 item 2): a long-lived session (or a
  * warehouse shared across sessions — exactly how bench windows
  * behave) serving a corpus regenerated in place at the same path must
  * rebuild, never silently read the previous generation's frames.
  * The mechanism is [[SharedTable.dirFingerprint]] of the tables a
  * family reads mixed into every memoized table name, plus
  * [[SharedTable.dropStaleGenerations]] GC in the build paths. */
class WarehouseInvalidationSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("dirFingerprint changes when a file in the corpus is rewritten") {
    val dir = Files.createTempDirectory("graft-fp").toString
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c")))
    val fp1 = SharedTable.dirFingerprint(spark, dir, Seq("documents"))
    fp1 should fullyMatch regex "[0-9a-f]{10}"
    // Same listing → same fingerprint (pure function of the listing).
    SharedTable.dirFingerprint(spark, dir, Seq("documents")) shouldBe fp1
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c"), (3L, "c d plus extra")))
    SharedTable.dirFingerprint(spark, dir, Seq("documents")) should not be fp1
  }

  test("regenerating the corpus at the same path rebuilds shared tables") {
    val dir = Files.createTempDirectory("graft-inval").toString
    // Generation 1: bigram "x y" dominates.
    writeDocs(dir, Seq((1L, "x y x y x y"), (2L, "x y q r")))
    val q = graft.SparkEntry.queries("q86_bigram_lm")
    val top1 = q(spark, dir).select("bigram").as[String].head()
    top1 shouldBe "x y"
    val gen1Tbl =
      SharedTable.indexName(spark, "graft_bigrams", dir, Seq("documents"))
    assert(spark.catalog.tableExists(gen1Tbl))

    // Generation 2: SAME PATH, different corpus — "m n" dominates.
    // (Different sizes guarantee a listing change even within mtime
    // resolution.)
    writeDocs(dir, Seq((1L, "m n m n m n m n m n"), (2L, "m n s t u v")))
    val top2 = q(spark, dir).select("bigram").as[String].head()
    top2 shouldBe "m n" // stale graft_bigrams would still say "x y"

    // The superseded generation's table was GC'd by the rebuild.
    val gen2Tbl =
      SharedTable.indexName(spark, "graft_bigrams", dir, Seq("documents"))
    gen2Tbl should not be gen1Tbl
    assert(spark.catalog.tableExists(gen2Tbl))
    assert(!spark.catalog.tableExists(gen1Tbl))
  }

  test("dropStaleGenerations sweeps orphaned on-disk generations too") {
    // A previous SESSION's superseded table is invisible to the fresh
    // in-memory catalog but its managed location still occupies the
    // warehouse — the sweep must delete it from disk as well.
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(wh,
      "graft_orphantest_x_f0123456789")
    fs.mkdirs(orphan)
    SharedTable.dropStaleGenerations(spark, "graft_orphantest_x",
      "graft_orphantest_x_fabcdefabcd")
    assert(!fs.exists(orphan), "orphaned generation dir must be swept")
  }

  test("IVF index rebuilds when embeddings are regenerated in place") {
    val dir = Files.createTempDirectory("graft-ivf-inval").toString
    def writeEmb(seed: Int, n: Int): Unit =
      (1 to n).map { i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7 + seed) % 13)
          .toFloat / 13f))
      }.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    writeEmb(seed = 0, n = 24)
    val name1 = SharedTable.indexName(spark, "ivf", dir, Seq("embeddings"))
    val idx1 = Similarity.indexFor(graft.Tables.embeddings(spark, dir),
      name1, nCentroids = 2, trainN = 24, iters = 1, numBuckets = 2,
      stem = Some(SharedTable.indexName("ivf", dir)))
    spark.table(idx1.assignedTable).count() shouldBe 24L

    writeEmb(seed = 5, n = 30) // regenerate in place, different count
    val name2 = SharedTable.indexName(spark, "ivf", dir, Seq("embeddings"))
    name2 should not be name1
    val idx2 = Similarity.indexFor(graft.Tables.embeddings(spark, dir),
      name2, nCentroids = 2, trainN = 30, iters = 1, numBuckets = 2,
      stem = Some(SharedTable.indexName("ivf", dir)))
    spark.table(idx2.assignedTable).count() shouldBe 30L
    // Old generation GC'd.
    assert(!spark.catalog.tableExists(idx1.assignedTable))
    assert(!spark.catalog.tableExists(idx1.centroidTable))
  }

  test("k-means model refits when embeddings are regenerated in place") {
    import graft.operators.Embeddings
    val dir = Files.createTempDirectory("graft-kmeans-inval").toString
    // n vectors around 8 centres; `scale`/`shift` move the centres, so
    // the two generations cluster differently.
    def writeEmb(n: Int, scale: Float, shift: Float): Unit =
      (1 to n).map { i =>
        val c = i % 8
        (i.toLong, Array.tabulate(4)(d =>
          scale * ((c * (d + 3)) % 5).toFloat + shift + (i % 3) * 0.01f))
      }.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster", "size", "inertia").as[(Long, Long, Double)]
        .collect().toSeq
    val q148 = graft.SparkEntry.queries("q148_kmeans_census")

    writeEmb(n = 40, scale = 1f, shift = 0f)
    q148(spark, dir).count() should be > 0L
    // Same path, different corpus: the census must come from a fit of
    // the new corpus, not from the first corpus's cached centroids.
    writeEmb(n = 48, scale = 3f, shift = 0.5f)
    val emb = graft.Tables.embeddings(spark, dir)
    val expected = Embeddings.kmeansAssign(emb,
        Embeddings.kmeansFit(emb, k = 8, iters = 3))
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("size"),
        graft.functions.roundz(
          sum(floor(col("d2") * Embeddings.KMeansScale)).cast("double")
            / Embeddings.KMeansScale, 6).as("inertia"))
      .orderBy("cluster")
    census(q148(spark, dir)) shouldBe census(expected)
  }

  private def memoCounted(dir: String, built: AtomicInteger) =
    SharedTable.memo(spark, "graft_memotest", dir, Seq("documents"),
        "doc_id", 2) {
      built.incrementAndGet()
      graft.Tables.documents(spark, dir).select("doc_id", "text")
    }

  test("memo builds once per session; a second call reads the table") {
    val dir = Files.createTempDirectory("graft-memo").toString
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c")))
    val built = new AtomicInteger(0)
    memoCounted(dir, built).count() shouldBe 2L
    memoCounted(dir, built).count() shouldBe 2L
    built.get() shouldBe 1
  }

  test("memo rebuilds after its source table is rewritten, not after another table") {
    val dir = Files.createTempDirectory("graft-memo-sources").toString
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c")))
    def writeLineitem(n: Int): Unit =
      (1 to n).map(i => (i.toLong, i.toDouble)).toDF("l_orderkey", "l_quantity")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    writeLineitem(3)
    val built = new AtomicInteger(0)
    memoCounted(dir, built).count() shouldBe 2L
    // lineitem is not a source of the documents-derived family.
    writeLineitem(5)
    memoCounted(dir, built).count() shouldBe 2L
    built.get() shouldBe 1
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c"), (3L, "c d plus extra")))
    memoCounted(dir, built).count() shouldBe 3L
    built.get() shouldBe 2
  }

  test("memo builds over a leftover location with no catalog entry") {
    // A crashed earlier session leaves the current generation's managed
    // location behind; the fresh catalog does not know the table, and
    // CREATE would refuse the non-empty location without the pre-clear.
    val dir = Files.createTempDirectory("graft-memo-crash").toString
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c"), (3L, "c d")))
    val tbl =
      SharedTable.indexName(spark, "graft_memotest", dir, Seq("documents"))
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new org.apache.hadoop.fs.Path(loc, "part-crashed")).close()
    assert(!spark.catalog.tableExists(tbl))
    val built = new AtomicInteger(0)
    memoCounted(dir, built).as[(Long, String)].collect().toSet shouldBe
      Set((1L, "a b"), (2L, "b c"), (3L, "c d"))
    built.get() shouldBe 1
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "part-crashed")))
  }

  test("two threads on a family's first use build it once") {
    val dir = Files.createTempDirectory("graft-memo-race").toString
    writeDocs(dir, Seq((1L, "a b"), (2L, "b c"), (3L, "c d"), (4L, "d e")))
    val built = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val reads = (1 to 2).map { _ =>
        pool.submit(new Callable[Set[(Long, String)]] {
          def call(): Set[(Long, String)] = {
            start.await()
            memoCounted(dir, built).as[(Long, String)].collect().toSet
          }
        })
      }
      start.countDown()
      val rows = reads.map(_.get(120, TimeUnit.SECONDS))
      built.get() shouldBe 1
      rows(0) shouldBe rows(1)
      rows(0).size shouldBe 4
    } finally pool.shutdownNow()
  }
}
