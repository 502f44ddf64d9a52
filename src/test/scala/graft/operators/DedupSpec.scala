package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val good = Seq.fill(35)("tok").zipWithIndex
    .map { case (t, i) => s"$t$i" }.mkString(" ") // 35 distinct tokens

  test("exact keeps the lowest id per identical text") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "text")
    Dedup.exact(docs).select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 3L)
  }

  test("dropPairDuplicates removes every greater-side doc") {
    val docs = (1L to 5L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    Dedup.dropPairDuplicates(docs, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  test("qualityFilter drops short and stopword-heavy docs") {
    val stopSoup = (Seq.fill(20)("the") ++ Seq.fill(15)("a")).mkString(" ")
    val docs = Seq((1L, good), (2L, "too short"), (3L, stopSoup))
      .toDF("doc_id", "text")
    Dedup.qualityFilter(docs).select("doc_id").as[Long].collect() shouldBe
      Array(1L)
  }

  test("connectedComponents labels every node with its component min") {
    // Two components: a 6-node chain (1-2-3-4-5-6, transitively NOT
    // closed) and a triangle (10,11,12); plus pair order scrambled so
    // nothing depends on input layout.
    val pairs = Seq((5L, 6L), (1L, 2L), (3L, 4L), (2L, 3L), (4L, 5L),
        (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().sortBy(_._1)
    got shouldBe Array(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L)
  }

  test("connectedComponents converges early on a star and is deterministic") {
    val star = (2L to 40L).map(i => (1L, i)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(star, maxIter = 2)
      .as[(Long, Long)].collect().sortBy(_._1)
    val b = Dedup.connectedComponents(star, maxIter = 12)
      .as[(Long, Long)].collect().sortBy(_._1)
    a shouldBe b
    a.map(_._2).distinct shouldBe Array(1L)
    a.map(_._1) shouldBe (1L to 40L).toArray
  }

  test("connectedComponents with a reliable checkpoint dir: same labels, rounds go to the dir") {
    // Cluster shape: localCheckpoint pins rounds to executor storage;
    // the checkpointDir option must route them to a reliable location
    // (and still converge to identical labels).
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val pairs = Seq((5L, 6L), (1L, 2L), (3L, 4L), (2L, 3L), (4L, 5L),
          (10L, 11L), (11L, 12L), (10L, 12L))
        .toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairs,
          checkpointDir = Some(dir.toString))
        .as[(Long, Long)].collect().sortBy(_._1)
      got shouldBe Array(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L)
      // The rounds really checkpointed into the reliable dir.
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      files should not be empty
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("greedy and clustered dedup differ on non-transitively-closed pairs") {
    // pairs (1,3) and (2,3): doc 2 never appears on a right side, so
    // the greedy form keeps {1, 2}; clustering puts {1,2,3} in one
    // component and keeps only its min {1}.
    val docs = (1L to 3L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    Dedup.dropPairDuplicates(docs, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    Dedup.dropClusterDuplicates(docs, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L)
  }

  test("cleanCorpus clustered=true keeps one survivor per cluster") {
    val docs = Seq(
      (1L, good + " one"), (2L, good + " two"), (3L, good + " three"),
      (4L, good + " four")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    Dedup.cleanCorpus(docs, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 4L)
    Dedup.cleanCorpus(docs, pairs, clustered = true)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  test("cleanCorpus composes quality, exact, and near-dup stages") {
    val docs = Seq(
      (1L, good), (2L, good), // exact dups, keep 1
      (3L, good + " extra"), // near-dup of 1 via supplied pairs
      (4L, "short"), // quality-dropped
      (5L, good + " unique tail here")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L)).toDF("doc_a", "doc_b")
    Dedup.cleanCorpus(docs, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 5L)
  }
}
