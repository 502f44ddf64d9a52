package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // Power-law data: one hot key owns ~90% of rows.
  private lazy val skewed = {
    val hot = (1 to 900).map(i => ("hot", i.toDouble))
    val cold = (1 to 100).map(i => (s"k${i % 10}", i.toDouble))
    (hot ++ cold).toDF("key", "v")
  }

  test("saltedAggregate matches the direct groupBy result") {
    val direct = skewed.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"), max("v").as("max_v"))
      .orderBy("key").as[(String, Long, Double, Double)].collect()
    val salted = Skew.saltedAggregate(skewed, col("key"), "key", salts = 8,
      Seq(Skew.count2p, Skew.sum2p("v"), Skew.max2p("v")))
      .orderBy("key").as[(String, Long, Double, Double)].collect()
    salted shouldBe direct
  }

  test("saltedAggregate phase 1 spreads the hot key over multiple salt groups") {
    val salted = skewed.withColumn("_salt", (rand(seed = 42) * 8).cast("int"))
    val hotGroups = salted.filter($"key" === "hot")
      .select("_salt").distinct().count()
    hotGroups should be > 4L
  }
}
