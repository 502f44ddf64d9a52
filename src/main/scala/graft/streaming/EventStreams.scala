package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{functions => gf}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.12): the engine's
  * generalization of the reference's hand-rolled incremental batch
  * (watermark Variable + `ingested_at > $wm` pushdown,
  * `scripts/pyspark/extract_postgres_table.py:28-76`) into real
  * event-time streams.
  *
  * Each transform takes an unbounded DataFrame (`readStream` source)
  * and returns a streaming DataFrame; the batch twins in
  * [[graft.queries.EventQueries]] (q37-q40) are the oracle-checked
  * semantics. Watermarks bound state: a 10-minute watermark means a
  * 1-hour window's state is dropped ~70 minutes after its end — at
  * 100 TB/day of events this is what keeps the state store finite.
  */
object EventStreams {

  /** Unbounded read of the events table from its parquet directory —
    * the engine's `readStream` entry. `ts` has shipped as two physical
    * encodings across testdata generations (see [[graft.Tables.events]]);
    * streams must declare their schema up front, so take it, and the
    * matching `ts` conversion, from the directory's [[graft.Tables]]
    * resolution (driver-side, setup-time only). Both encodings end at
    * the LTZ TimestampType every batch twin was written against. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val files = graft.Tables.resolve(spark, dir)
    val raw = spark.readStream.schema(files.schema).parquet(dir)
    files.tsFix.fold(raw)(raw.withColumn("ts", _))
  }

  /** Tumbling 1-hour counts/sums with a late-data watermark
    * (batch twin: q37). */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), gf.roundz(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))

  /** Sliding 1-hour/30-minute windows (batch twin: q38). */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"), gf.roundz(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))

  /** Built-in session windows: gap-based, watermark-bounded state. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("cnt"))

  /** Streaming exact dedup on event_id — watermark-bounded state (the
    * streaming form of the exact-dedup operator q27).
    *
    * Must be `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates("event_id")`: the plain form only evicts state
    * when the event-time column is part of the dedup keys, so keying on
    * event_id alone would grow the state store forever. The
    * within-watermark form expires each key once the watermark passes
    * its first-seen event time + delay — the semantics this operator
    * wants (duplicates arrive near their original in event time). */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: the streaming side joins a static
    * dimension (broadcast per micro-batch — no stream-side shuffle). */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"),
      "left")

  /** Stream-stream interval join: each click joins the view by the
    * same user within the preceding `within` interval. Both sides are
    * watermarked and the join carries a TIME-RANGE predicate — that
    * pair is what lets Spark BOUND the join state (a view older than
    * watermark + interval can never match and is evicted); without the
    * range the state grows forever. */
  def viewToClick(views: DataFrame, clicks: DataFrame,
      within: String = "30 minutes", watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    c.join(v,
      c("user_id") === v("user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $within"))
      .select(c("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  // ---- custom state: sessionization via flatMapGroupsWithState ----------

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp)

  /** Input row of [[scd2Versions]]. */
  final case class TypedEvent(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String)

  /** The ONE open version per user [[scd2Versions]] holds as state —
    * public for Spark's encoder codegen (the BudgetState precedent).
    * `from` keeps the ORIGINAL full-precision timestamp: the testdata
    * events carry sub-millisecond micros, and `Timestamp.getTime`
    * truncates to millis — ordering and emission must not. */
  final case class OpenVersion(state: String, from: Timestamp)

  /** A CLOSED version row emitted by [[scd2Versions]]. */
  final case class VersionOut(user_id: Long, state: String,
      eff_from: Timestamp, eff_to: Timestamp)

  /** Streaming SCD Type-2 dimension maintenance — the arrival-order
    * twin of q119's batch islands build: per user, ONE open
    * (state, effective-from) version lives in state; an arriving event
    * whose type differs CLOSES it (emit, append-mode) and opens the
    * next. Equal-type arrivals extend the open version silently.
    *
    * Contract vs the batch twin: emits exactly q119's `is_current = 0`
    * rows (append mode cannot retract, so the still-open version stays
    * in state, not in the output) provided each user's events arrive
    * in event-time order across micro-batches; within a micro-batch
    * arrival order is repaired by a (ts, event_id) sort of the group's
    * rows. State is one (String, Long) per user — user-cardinality-
    * bounded, never event-bounded, so no timeout is needed (the
    * tokenBudgetGate sizing argument). */
  def scd2Versions(events: Dataset[TypedEvent])(
      implicit spark: SparkSession): Dataset[VersionOut] = {
    import spark.implicits._
    // Full-precision event-time micros: getTime() truncates nanos to
    // millis, which would both mis-order same-millisecond events and
    // emit eff_from values the batch twin (epoch_us ordering,
    // untouched ts) would not hash-match.
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, VersionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[TypedEvent],
         state: GroupState[OpenVersion]) =>
          val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = Seq.newBuilder[VersionOut]
          var open = state.getOption
          sorted.foreach { e =>
            open match {
              case None =>
                open = Some(OpenVersion(e.event_type, e.ts))
              case Some(v) if v.state != e.event_type =>
                out += VersionOut(userId, v.state, v.from, e.ts)
                open = Some(OpenVersion(e.event_type, e.ts))
              case Some(_) => () // same state: the open version extends
            }
          }
          open.foreach(state.update)
          out.result().iterator
      }
  }
  final case class SessionState(start: Long, last: Long, count: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      cnt: Long)

  /** Custom stateful sessionization — the mapGroupsWithState form of
    * q39, for session semantics the built-in window can't express
    * (e.g. emitting only on close). State times out via the event-time
    * watermark, so it cannot grow unboundedly. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // Watermark passed: close out all open sessions.
            val out = state.getOption.getOrElse(Nil).map(s =>
              SessionOut(userId, new Timestamp(s.start), s.count))
            state.remove()
            out.iterator
          } else {
            // Fold the batch into gap-separated sessions.
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val open = state.getOption.getOrElse(Nil)
            val merged = sorted.foldLeft(open) { (sessions, e) =>
              val t = e.ts.getTime
              sessions match {
                case head :: tail if t - head.last <= gapMs =>
                  head.copy(last = math.max(head.last, t),
                    count = head.count + 1) :: tail
                case _ =>
                  SessionState(t, t, 1L) :: sessions
              }
            }
            // Emit and drop every session already closed by the gap;
            // keep only the newest (possibly still-open) one in state.
            merged match {
              case head :: closed =>
                state.update(List(head))
                state.setTimeoutTimestamp(head.last + gapMs)
                closed.reverseIterator.map(s =>
                  SessionOut(userId, new Timestamp(s.start), s.count))
              case Nil =>
                state.remove()
                Iterator.empty
            }
          }
      }
  }
}
