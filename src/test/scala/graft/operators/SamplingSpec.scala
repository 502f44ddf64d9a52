package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (1L to 10000L).map(i => (i, s"lang${i % 4}"))
    .toDF("doc_id", "lang")

  test("hashSplit is deterministic and partition-layout independent") {
    val a = Sampling.hashSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(docs.repartition(13), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    a shouldBe b
  }

  test("hashSplit proportions approximate 80/10/10 and every row is assigned") {
    val counts = Sampling.hashSplit(docs, "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    counts.values.sum shouldBe 10000L
    counts("train").toDouble / 10000 shouldBe 0.80 +- 0.02
    counts("val").toDouble / 10000 shouldBe 0.10 +- 0.02
    counts("test").toDouble / 10000 shouldBe 0.10 +- 0.02
  }

  test("weightedMix keeps ~rate per group, deterministically, subset-stable") {
    val rates = Map("lang0" -> 1.0, "lang1" -> 0.5, "lang2" -> 0.0)
    val got = Sampling.weightedMix(docs, "lang", "doc_id", rates,
      defaultRate = 0.1)
    val counts = got.groupBy("lang").count().as[(String, Long)].collect().toMap
    counts("lang0") shouldBe 2500L // rate 1.0 keeps everything
    counts.getOrElse("lang2", 0L) shouldBe 0L
    counts("lang1").toDouble / 2500 shouldBe 0.5 +- 0.05
    counts("lang3").toDouble / 2500 shouldBe 0.1 +- 0.03
    // layout-independent…
    val again = Sampling.weightedMix(docs.repartition(17), "lang", "doc_id",
      rates, defaultRate = 0.1).select("doc_id").as[Long].collect().sorted
    again shouldBe got.select("doc_id").as[Long].collect().sorted
    // …and a row's fate doesn't change when other rows disappear
    val half = Sampling.weightedMix(docs.filter($"doc_id" <= 5000), "lang",
      "doc_id", rates, defaultRate = 0.1)
      .select("doc_id").as[Long].collect().sorted
    half shouldBe again.filter(_ <= 5000L)
  }

  test("tokenBudget: inclusive prefix-sum cut per stratum, deterministic") {
    val df = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L), (4L, "a", 100L),
      (10L, "b", 500L), (11L, "b", 100L)).toDF("doc_id", "src", "toks")
    val kept = Sampling.tokenBudget(df, "src", "doc_id", "toks", 250L)
    kept.columns shouldBe df.columns
    // stratum a: 100-token docs in hash order → inclusive prefix sums
    // 100, 200, 300… → exactly 2 kept; stratum b: whichever doc hashes
    // first decides — 500 first ⇒ nothing fits, 100 first ⇒ one fits.
    val bySrc = kept.groupBy("src").count().as[(String, Long)]
      .collect().toMap
    bySrc("a") shouldBe 2L
    bySrc.getOrElse("b", 0L) should be <= 1L
    // Budget respected exactly per stratum.
    kept.groupBy("src").sum("toks").as[(String, Long)].collect()
      .foreach { case (_, t) => t should be <= 250L }
    // Layout-independent: same rows under any repartitioning.
    val again = Sampling.tokenBudget(df.repartition(7), "src", "doc_id",
      "toks", 250L).select("doc_id").as[Long].collect().sorted
    again shouldBe kept.select("doc_id").as[Long].collect().sorted
    // A budget below every doc keeps nothing (inclusive-sum rule).
    Sampling.tokenBudget(df, "src", "doc_id", "toks", 50L)
      .count() shouldBe 0L
  }

  test("weightedSample: matches the local A-Res reference, layout-independent, weight-sensitive") {
    import spark.implicits._
    val rows = for {
      src <- Seq("a", "b")
      i <- 1 to 200
    } yield (src, (if (src == "a") i else 1000 + i).toLong,
      // source a: uniform weights; source b: doc 1001 carries 1000x
      if (src == "b" && i == 1) 100000L else 100L)
    val df = rows.toDF("src", "doc_id", "w")
    val got = Sampling.weightedSample(df, "src", "doc_id", "w", 5)
      .select("src", "doc_id").as[(String, Long)].collect().toSet
    // local reference: same LCG + ln(u)/w, top-5 per stratum
    def key(id: Long, w: Long): Double =
      math.log(((id * 1103515245L + 12345L) % 2147483648L + 1).toDouble
        / 2147483649.0) / w
    val ref = rows.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.sortBy { case (_, id, w) => (-key(id, w), id) }.take(5)
        .map(r => (src, r._2))
    }.toSet
    got shouldBe ref
    // the 1000x-weight doc is in its stratum's sample (its key is
    // ~1000x closer to zero than any uniform draw's)
    got should contain(("b", 1001L))
    // layout-independent
    val again = Sampling
      .weightedSample(df.repartition(7), "src", "doc_id", "w", 5)
      .select("src", "doc_id").as[(String, Long)].collect().toSet
    again shouldBe got
  }

  test("epochShuffle: a true permutation in the seeded-hash total " +
    "order, reproducible, layout-independent, seed-sensitive") {
    val ids = (1L to 2000L)
    val df = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val got = Sampling.epochShuffle(df, "42", "doc_id", parts = 8)
      .select("doc_id").as[Long].collect()
    // permutation: same multiset, different order
    got.sorted.toSeq shouldBe ids.toSeq
    got.toSeq should not be ids.toSeq
    // the order IS sort-by-(seeded hash, id) — driver-side reference
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = {
      val hex = md.digest(s"42|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    got.toSeq shouldBe ids.sortBy(i => (h(i), i)).toSeq
    // layout-independent: a different input partitioning, same order
    val re = Sampling.epochShuffle(df.repartition(13), "42", "doc_id",
      parts = 8).select("doc_id").as[Long].collect()
    re.toSeq shouldBe got.toSeq
    // a different seed is a different permutation
    val other = Sampling.epochShuffle(df, "43", "doc_id", parts = 8)
      .select("doc_id").as[Long].collect()
    other.sorted.toSeq shouldBe ids.toSeq
    other.toSeq should not be got.toSeq
  }

  test("temperatureSample: alpha<1 boosts small sources, caps at whole source") {
    // Heavy skew: big=900 docs, small=100. At alpha=0.5 the quotas go
    // as sqrt: q_big = 3/4, q_small = 1/4 — the small source's RATE
    // (B*q/n) is boosted 2.5x over natural while big is suppressed.
    val docs = ((1L to 900L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, "small"))).toDF("doc_id", "source")
    val out = Sampling.temperatureSample(docs, "source", "doc_id",
        alpha = 0.5, budget = 400)
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    // Expected takes: big 400*0.75 = 300, small 400*0.25 = 100 -> the
    // small source's rate hits the min(1, .) cap and is taken WHOLE.
    out("small") shouldBe 100L
    // Hash realization of a 1/3 rate over 900 docs: binomial around
    // 300, sd ~14 — assert a generous band, not the expectation.
    out("big").toDouble shouldBe 300.0 +- 60.0

    // alpha = 1 is the natural mix: every source rate = B/N.
    val nat = Sampling.temperatureSample(docs, "source", "doc_id",
        alpha = 1.0, budget = 500)
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    nat("big").toDouble shouldBe 450.0 +- 70.0
    nat("small").toDouble shouldBe 50.0 +- 25.0

    // Deterministic: identical output under a different layout.
    val a = Sampling.temperatureSample(docs, "source", "doc_id", 0.5, 400)
      .select("doc_id").as[Long].collect().sorted
    val b = Sampling.temperatureSample(docs.repartition(13), "source",
        "doc_id", 0.5, 400)
      .select("doc_id").as[Long].collect().sorted
    a.toSeq shouldBe b.toSeq
  }

  test("temperatureThresholds: α=0.5 quantizes CORRECTLY-ROUNDED sqrt, not pow") {
    // The cross-engine contract (q175 / VERDICT r12 item 3): z must be
    // floor(sqrt(p)·1e9) with IEEE-correctly-rounded sqrt — Math.pow's
    // 1-ulp wobble can cross the floor boundary. Pin every z against a
    // driver-side Math.sqrt reference over a skew whose p values are
    // NOT exact binary fractions.
    val docs = ((1L to 777L).map(i => (i, "a")) ++
      (1001L to 1223L).map(i => (i, "b")) ++
      (2001L to 2003L).map(i => (i, "c"))).toDF("doc_id", "source")
    val rows = Sampling.temperatureThresholds(docs, "source", 0.5,
        _ => lit(500L))
      .select("source", "n", "nn", "z", "b", "thr")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val nn = 777L + 223L + 3L
    for ((g, n) <- Seq(("a", 777L), ("b", 223L), ("c", 3L))) {
      val (_, gotN, gotNn, gotZ, gotB, _) = rows(g)
      gotN shouldBe n
      gotNn shouldBe nn
      gotB shouldBe 500L
      gotZ shouldBe math.floor(
        math.sqrt(n.toDouble / nn.toDouble) * 1e9).toLong
    }
    // α=0.25 is sqrt∘sqrt (T139's stance), same reference.
    val z25 = Sampling.temperatureThresholds(docs, "source", 0.25,
        _ => lit(500L))
      .select("source", "z").as[(String, Long)].collect().toMap
    for ((g, n) <- Seq(("a", 777L), ("b", 223L), ("c", 3L)))
      z25(g) shouldBe math.floor(
        math.sqrt(math.sqrt(n.toDouble / nn.toDouble)) * 1e9).toLong
  }

  test("temperatureSample: a NULL group participates with its own quota") {
    // ADVICE r12: nulls used to be counted into the census total but
    // never matched by the non-null-safe threshold chain — budget
    // allocated to them silently vanished. The null-safe join keeps
    // them a group like any other.
    val docs = ((1L to 600L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, null: String)))
      .toDF("doc_id", "source")
    val out = Sampling.temperatureSample(docs, "source", "doc_id",
        alpha = 0.5, budget = 200)
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(Option[String], Long)].collect().toMap
    // α=0.5 quotas over (600, 100): z_big=√(6/7), z_null=√(1/7) →
    // q_null ≈ 0.2887, rate_null = min(1, 200·q/100) ≈ 0.577 — the
    // null group must surface with a binomial-band count, not zero.
    val nullTaken = out(None)
    nullTaken.toDouble shouldBe 57.7 +- 25.0
    // Membership is deterministic and layout-independent, nulls included.
    val a = Sampling.temperatureSample(docs, "source", "doc_id", 0.5, 200)
      .select("doc_id").as[Long].collect().sorted
    val b = Sampling.temperatureSample(docs.repartition(7), "source",
        "doc_id", 0.5, 200)
      .select("doc_id").as[Long].collect().sorted
    a.toSeq shouldBe b.toSeq
  }
}
