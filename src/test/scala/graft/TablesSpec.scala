package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.TimestampType

class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A writable copy of the sf0.001 tables. */
  private def copyOfTestdata(): String = {
    val dir = Files.createTempDirectory("graft-tables")
    Files.list(Paths.get(sf)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    dir.toString
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    CatalystBridge.logicalPlan(df).collectFirst {
      case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation]
    }.get

  /** The Spark jobs `run` launches for each of `steps`. */
  private def jobsPerStep[A](steps: Seq[A])(run: A => Unit): Seq[(A, Int)] = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // The bus is async FIFO: a sentinel job flushes the events of
      // everything before it, and an RDD count is exactly ONE job.
      def flushWith(atLeast: Int): Unit = {
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis + 30000
        while (jobs.get() < atLeast && System.currentTimeMillis < deadline)
          Thread.sleep(20)
      }
      steps.map { step =>
        flushWith(jobs.get() + 1)
        val n0 = jobs.get()
        run(step)
        flushWith(n0 + 1)
        step -> (jobs.get() - n0 - 1)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm build of each dashboard query launches no Spark job") {
    val dashboard = Seq("q02_monthly_trend", "q04_kpi_total",
      "q07_count_by_nation", "q08_topk_customers", "q44_sql_view_flatten",
      "q26_skill_counts", "q40_daily_funnel", "q54_pivot", "q55_rollup",
      "q106_cube", "q116_cumulative_users", "q117_cohort_retention")
    val defs = dashboard.map(n => SparkEntry.allDefs.find(_.name == n).get)
    defs.foreach(_.build(spark, sf))
    jobsPerStep(defs)(_.build(spark, sf)).map { case (d, n) => d.name -> n } shouldBe
      dashboard.map(_ -> 0)
  }

  test("the first resolution of each table launches no Spark job and declares the schema Spark infers") {
    val dir = copyOfTestdata()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    jobsPerStep(tables)(Tables.table(spark, dir, _)) shouldBe tables.map(_ -> 0)
    tables.map(t => Tables.table(spark, dir, t).schema) shouldBe
      tables.map(t => spark.read.parquet(s"$dir/$t.parquet").schema)
  }

  test("a table rewritten in place is resolved again, for Tables and the SQL views") {
    val dir = copyOfTestdata()
    val q44 = SparkEntry.allDefs.find(_.name == "q44_sql_view_flatten").get
    def q44Rows(): Long =
      q44.build(spark, dir).agg(sum("cnt")).head().getLong(0)
    val before = Tables.orders(spark, dir).count()
    q44Rows() shouldBe before

    val rewritten = s"$dir/orders_next.parquet"
    spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_extra", lit(1))
      .write.parquet(rewritten)
    Files.delete(Paths.get(s"$dir/orders.parquet"))
    Files.move(Paths.get(rewritten), Paths.get(s"$dir/orders.parquet"))

    val after = Tables.orders(spark, dir)
    after.columns should contain("o_extra")
    after.count() should (be > 0L and be < before)
    q44Rows() shouldBe after.count()

    // A view replaced behind SqlViews' back is registered again.
    spark.range(1).createOrReplaceTempView("orders")
    q44Rows() shouldBe after.count()
  }

  test("later calls share one relation with fresh attribute ids; a second session gets its own") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    relationOf(a) should be theSameInstanceAs relationOf(b)
    a.join(b, a("o_orderkey") === b("o_orderkey")).count() shouldBe a.count()

    val other = spark.newSession()
    val c = Tables.orders(other, sf)
    (relationOf(c).sparkSession: SparkSession) should be theSameInstanceAs other
    relationOf(c) should not be theSameInstanceAs(relationOf(a))
  }

  test("a MICROS (NTZ) events table leaves nanosAsLong unset") {
    val dir = copyOfTestdata()
    val s = spark.newSession()
    val ev = Tables.events(s, dir)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.count() should be > 0L
    s.conf.getAll.keySet should not contain NanosAsLong
  }

  test("a NANOS events table sets nanosAsLong and truncates ts to micros") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200123456789L))
    finally writer.close()

    val s = spark.newSession()
    val ev = Tables.events(s, dir)
    s.conf.getOption(NanosAsLong) shouldBe Some("true")
    ev.schema("ts").dataType shouldBe TimestampType
    ev.select(unix_micros(col("ts"))).head().getLong(0) shouldBe 1704067200123456L
  }
}
