package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.{functions => gf}

/** Event-stream analytics in batch form — tumbling/sliding windows,
  * sessionization, daily funnels over the `events` table, each checked
  * against the oracle. The reference is batch only (SURVEY.md §2.12).
  *
  * Scale notes: tumbling/sliding aggs shuffle once on the window bucket
  * (partial aggregation upstream); sessionization shuffles once on
  * user_id and sorts within partitions — no global sort. Timestamps are
  * compared in microseconds (`unix_micros`/`epoch_us`) so the oracle
  * agrees exactly.
  */
object EventQueries {

  val defs: Seq[QueryDef] = Seq(
    // Tumbling window: 1-hour buckets, count + sum (epoch-aligned in
    // both engines).
    QueryDef("q37_tumbling_window",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  count(*) AS cnt, round(sum(value), 2) + 0.0 AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"), gf.roundz(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))
        .orderBy("window_start")
    },

    // Sliding window: 1-hour windows sliding every 30 minutes — each
    // event lands in exactly two windows.
    QueryDef("q38_sliding_window",
      """SELECT window_start, count(*) AS cnt, round(sum(value), 2) + 0.0 AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
        |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), gf.roundz(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))
        .orderBy("window_start")
    },

    // Pivot: event types to columns via the relational pivot operator
    // (Spark .pivot with an explicit value list so no extra
    // distinct-values job runs; plans as a single aggregation).
    QueryDef("q54_pivot",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase"))
        .orderBy("day")
    },

    // Rollup: subtotals + grand total over (event_type, day-of-week)
    // — grouping-set aggregation beyond the reference's flat groupBys.
    QueryDef("q55_rollup",
      """SELECT event_type, CAST(dow AS BIGINT) AS dow, count(*) AS cnt
        |FROM (SELECT event_type, dayofweek(ts) % 7 AS dow FROM events)
        |GROUP BY ROLLUP (event_type, dow)
        |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        // Spark dayofweek: 1=Sunday..7; DuckDB dayofweek: 0=Sunday..6.
        .select(col("event_type"),
          ((dayofweek(col("ts")) - 1) % 7).cast("long").as("dow"))
        .rollup("event_type", "dow")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dow"))
    },

    // Cube: the FULL grouping lattice over (event_type, dow) with
    // GROUPING ids — q55's rollup emits 3 of the 4 grouping sets;
    // cube adds the per-dow-across-types slice, and the gid column
    // pins Spark's grouping_id bit order against the SQL-standard
    // GROUPING() composition cross-engine.
    QueryDef("q106_cube",
      """SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid,
        |  count(*) AS cnt
        |FROM (SELECT event_type, dayofweek(ts) % 7 AS dow FROM events)
        |GROUP BY CUBE (event_type, dow)
        |ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        // Spark dayofweek: 1=Sunday..7; DuckDB dayofweek: 0=Sunday..6.
        .select(col("event_type"),
          ((dayofweek(col("ts")) - 1) % 7).cast("long").as("dow"))
        .cube("event_type", "dow")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"))
        .select(col("event_type"), col("dow"), col("gid"), col("cnt"))
        .orderBy(asc("gid"), asc_nulls_first("event_type"),
          asc_nulls_first("dow"))
    },

    // Sessionization: per-user sessions split on >30-minute gaps
    // (lag + running sum — the batch form of session windows).
    QueryDef("q39_sessionize",
      """WITH flags AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), sess AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flags
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS cnt, min(ts) AS session_start
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("_tus"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .withColumn("new_s",
          when(lag("_tus", 1).over(w).isNull ||
            col("_tus") - lag("_tus", 1).over(w) > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("cnt"), min("ts").as("session_start"))
        .orderBy("user_id", "session_id")
    },

    // T144 — inter-arrival burstiness census: per event_type, the
    // log2-bucketed histogram of per-user inter-arrival gaps — the
    // feed-health shape a 100 TB ingest monitor watches (a healthy
    // feed's gaps concentrate in a few buckets; a stuck producer grows
    // the tail bucket, a replay attack the zero bucket). Windows
    // partition by (event_type, user_id) — millions of independent
    // keys, so the rank-statistic single-task chokepoint never forms
    // (contrast q163's per-source sorts) — and gaps are EXACT INTEGER
    // microsecond differences floor-divided to seconds; the log2
    // bucket is floor(log2(n+1)) of an integer, the q99-established
    // IEEE-identical idiom. Output bounded by types × ~45 buckets.
    QueryDef("q164_interarrival",
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type, user_id
        |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
        |  FROM events
        |)
        |SELECT event_type,
        |  CAST(floor(log2(gap_s + 1)) AS BIGINT) AS bucket,
        |  count(*) AS n_gaps,
        |  CAST(min(gap_s) AS BIGINT) AS min_gap_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type", "user_id")
        .orderBy(col("_tus"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .withColumn("gap_us", col("_tus") - lag("_tus", 1).over(w))
        .filter(col("gap_us").isNotNull)
        .select(col("event_type"),
          expr("gap_us div 1000000").as("gap_s"))
        .groupBy(col("event_type"),
          floor(log2(col("gap_s") + 1)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min("gap_s").cast("long").as("min_gap_s"),
          max("gap_s").cast("long").as("max_gap_s"))
        .orderBy("event_type", "bucket")
    },

    // T148 — weekday-profile χ² census: per event_type, Pearson's
    // goodness-of-fit statistic of the day-of-week activity profile
    // against uniform — the seasonality-shape monitor the drift
    // quartet (PSI q132 / CUSUM q143 / ACF q145 / OLS q151) was
    // missing: a weekday-skewed feed that suddenly flattens (bot
    // traffic) or spikes one day (replay) moves χ² long before the
    // volume trend does. Exactness is ALGEBRAIC: against the uniform
    // expectation E = n/7, χ² = Σ₇(oᵢ−E)²/E collapses to
    // 7·Σoᵢ²/n − n (zero cells contribute 0 to Σo², so missing
    // weekdays are handled by the identity, not by outer joins) —
    // both moments are EXACT INTEGERS (decimal-128/HUGEINT, the q165
    // pattern: daily counts square past a long at ~3e9/cell) and the
    // only double math is the one shared final expression. One scan,
    // one (type, dow) aggregate (≤ types × 7 cells), χ² df = 6.
    QueryDef("q168_weekday_chi2",
      """WITH c AS (
        |  SELECT event_type, dayofweek(ts) AS dow,
        |    CAST(count(*) AS HUGEINT) AS o
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(sum(o) AS BIGINT) AS n_events,
        |  round(7.0 * CAST(sum(o * o) AS DOUBLE) / CAST(sum(o) AS DOUBLE)
        |    - CAST(sum(o) AS DOUBLE), 6) + 0.0 AS chi2_uniform
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val c = Tables.events(s, dir)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).cast(DecimalType(19, 0)).as("o"))
      c.groupBy("event_type")
        .agg(sum("o").cast("long").as("n_events"),
          sum(col("o") * col("o")).as("ss"))
        .select(col("event_type"), col("n_events"),
          gf.roundz(lit(7.0) * col("ss").cast("double")
              / col("n_events").cast("double")
            - col("n_events").cast("double"), 6).as("chi2_uniform"))
        .orderBy("event_type")
    },

    // Interval join (batch twin of the streaming viewToClick): each
    // click paired with same-user views in the preceding 30 minutes.
    // Scale note: per-user equi-key + time band; never a full theta
    // join — the band is part of the join condition.
    QueryDef("q51_interval_join",
      """SELECT c.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.user_id = c.user_id
        |  AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, view_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      clicks.join(views,
          col("v_user_id") === col("user_id") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTE"))
        .select("user_id", "view_id", "click_id")
        .orderBy("user_id", "click_id", "view_id")
    },

    // AS-OF join: each click gets the LATEST view at-or-before it per
    // user — via graft.operators.AsOfJoin (union + ordered window: one
    // shuffle, no O(|L|*|R|) candidate blow-up). Oracle replicates
    // with a window over the union.
    QueryDef("q52_asof_join",
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS side, event_id AS view_id,
        |         NULL::BIGINT AS click_id
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS side, NULL, event_id
        |  FROM events WHERE event_type = 'click'
        |), carried AS (
        |  SELECT user_id, click_id, side,
        |    last_value(view_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, side
        |      ROWS UNBOUNDED PRECEDING) AS asof_view_id
        |  FROM u
        |)
        |SELECT user_id, click_id, asof_view_id
        |FROM carried WHERE side = 1
        |ORDER BY user_id, click_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
      graft.operators.AsOfJoin.joinAsOf(
          clicks, views, Seq("user_id"), "ts", "ts", Seq("view_id"))
        .select(col("user_id"), col("click_id"),
          col("view_id").as("asof_view_id"))
        .orderBy("user_id", "click_id")
    },

    // Daily funnel: conditional counts per event type (FILTER-style
    // pivot; reference analog: superset trend queries ids 12-14).
    QueryDef("q40_daily_funnel",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) FILTER (WHERE event_type = 'view') AS views,
        |  count(*) FILTER (WHERE event_type = 'click') AS clicks,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signups,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
        |  count(*) FILTER (WHERE event_type = 'error') AS errors
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          count(when(col("event_type") === "view", 1)).as("views"),
          count(when(col("event_type") === "click", 1)).as("clicks"),
          count(when(col("event_type") === "signup", 1)).as("signups"),
          count(when(col("event_type") === "purchase", 1)).as("purchases"),
          count(when(col("event_type") === "error", 1)).as("errors"))
        .orderBy("day")
    },

    // Salted two-phase aggregation over the zipf-ish events key
    // distribution: phase 1 partially aggregates on (user_id, salt) so
    // a hot user's rows spread over `salts` reducers, phase 2 merges
    // the ≤salts tiny partials per key — same result as the plain
    // groupBy the oracle runs, but no single reducer ever owns a hot
    // key's full row set. Algebraic aggregates only (count/sum/max
    // re-merge exactly); the float sum is rounded in both engines so
    // summation order can't leak into the hash.
    QueryDef("q80_salted_agg",
      """SELECT user_id, count(*) AS cnt,
        |  round(sum(value), 6) + 0.0 AS sum_value, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.operators.Skew
      Skew.saltedAggregate(Tables.events(s, dir), col("user_id"), "user_id",
          salts = 8,
          Seq(Skew.count2p, Skew.sum2p("value"), Skew.max2p("value")))
        .select(col("user_id"), col("cnt"),
          gf.roundz(col("sum_value"), 6).as("sum_value"), col("max_value"))
        .orderBy("user_id")
    },

    // Event-time RANGE-frame rolling aggregates (T67): for every event,
    // count + sum(value) over the same user's trailing hour — a
    // value-based window frame (`rangeBetween` on the epoch-µs key),
    // distinct from every ROWS frame elsewhere in the suite. RANGE
    // semantics make ties well-defined: peers at the same timestamp are
    // all in-frame regardless of tie order, so each output row is
    // deterministic even though the sort under it isn't total.
    // Scale note: one shuffle on user_id, per-user external sort
    // (spill-capable); the frame buffer is bounded by one user's events
    // in a 1-hour band, never the partition. Linear at 100 TB.
    QueryDef("q110_rolling_window",
      """SELECT user_id, event_id,
        |  count(*) OVER w AS cnt_1h,
        |  round(sum(value) OVER w, 2) + 0.0 AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, epoch_us(ts), event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("_tus")
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("_tus"),
          count(lit(1)).over(w).as("cnt_1h"),
          gf.roundz(sum("value").over(w), 2).as("sum_1h"))
        .orderBy("user_id", "_tus", "event_id")
        .drop("_tus")
    },

    // Robust-outlier census via median absolute deviation (T68): per
    // event_type, exact interpolated median + MAD and the count of
    // values beyond 3·1.4826·MAD — the robust z-score gate a feed-health
    // monitor runs where mean/stddev would be dragged by the outliers
    // themselves. Exact order statistics WITHOUT a percentile buffer:
    // rank each value through the spill-capable external sort
    // (row_number per type), pick the two middle ranks, interpolate
    // lo + (hi−lo)·0.5 — the same formula DuckDB's quantile_cont uses,
    // so the doubles agree bit-for-bit. Group counts ride a bounded
    // type-keyed aggregate broadcast back; nothing buffers a partition.
    // Scale note: two sort passes over (type, value) — O(n log n) and
    // spillable where a naive percentile() holds O(distinct) per group
    // in the aggregation buffer (the q63 caveat, solved here).
    QueryDef("q113_mad_outliers",
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1
        |), mad AS (
        |  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n,
        |  round(m.med, 6) + 0.0 AS med, round(a.mad, 6) + 0.0 AS mad,
        |  CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * a.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS outlier_cnt
        |FROM events e
        |JOIN med m USING (event_type) JOIN mad a USING (event_type)
        |GROUP BY e.event_type, m.med, a.mad
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))

      // Exact interpolated p50 of `c` per event_type. Round 10 swapped
      // the windowed row_number sort (ONE task per type — parallelism
      // = key cardinality, the 100 TB chokepoint) for histogram-
      // refinement selection: every corpus-sized pass is a parallel
      // scan, only the located target buckets (expected n/4096 rows)
      // ever sort. Same quantile_cont(0.5) contract, spec-pinned.
      // Decide the path ONCE from the clean events-scan stats and pin
      // it for both passes — the MAD pass's input is a broadcast-join
      // of the median onto the same scan, whose Catalyst size estimate
      // inflates ~45× and would misroute the choice.
      val useHistogram = graft.operators.RobustStats.decideHistogram(ev)
      def medianOf(df: org.apache.spark.sql.DataFrame, c: String,
          out: String): org.apache.spark.sql.DataFrame =
        graft.operators.RobustStats.medianByKey(df, "event_type", c, out,
          histogram = useHistogram)

      val med = medianOf(ev, "value", "med")
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("_d", abs(col("value") - col("med")))
      val mad = medianOf(dev.select(col("event_type"), col("_d")), "_d", "mad")
      ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("value") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("outlier_cnt"))
        .select(col("event_type"), col("n"),
          gf.roundz(col("med"), 6).as("med"), gf.roundz(col("mad"), 6).as("mad"),
          col("outlier_cnt"))
        .orderBy("event_type")
    },

    // Tukey-fence outlier census (T82): per-type exact interpolated
    // quartiles → IQR fences at 1.5·IQR — the box-plot robust-outlier
    // rule, complementing q113's MAD rule. BOTH quartiles come from
    // ONE RobustStats.quantilesByKey pass (the multi-probe selection:
    // one histogram serves every requested rank), so this costs one
    // median-extraction, not two.
    // Scale note: same contract as q113 — above the stats threshold no
    // per-key sort exists anywhere; below it the toy-scale windowed
    // path runs. Path pinned once from the clean scan stats.
    QueryDef("q124_iqr_fences",
      """WITH qs AS (
        |  SELECT event_type, quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, count(*) AS n,
        |  round(q.q1, 6) + 0.0 AS q1, round(q.q3, 6) + 0.0 AS q3,
        |  CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
        |                  OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS fence_outliers
        |FROM events e JOIN qs q USING (event_type)
        |GROUP BY e.event_type, q.q1, q.q3
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val useHistogram = graft.operators.RobustStats.decideHistogram(ev)
      val qs = graft.operators.RobustStats.quantilesByKey(
        ev, "event_type", "value", Seq(0.25 -> "q1", 0.75 -> "q3"),
        histogram = useHistogram)
      val iqr = col("q3") - col("q1")
      ev.join(broadcast(qs), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("q1") - lit(1.5) * iqr ||
            col("value") > col("q3") + lit(1.5) * iqr, 1L).otherwise(0L))
            .as("fence_outliers"))
        .select(col("event_type"), col("n"),
          gf.roundz(col("q1"), 6).as("q1"), gf.roundz(col("q3"), 6).as("q3"),
          col("fence_outliers"))
        .orderBy("event_type")
    },

    // Last-observation-carried-forward gap fill (T72): 'error' events
    // carry no meaningful reading — treat their value as missing and
    // fill each user's timeline with the last non-null observation
    // (IGNORE NULLS running last_value; leading gaps stay null). The
    // ignore-nulls window family is otherwise unexercised, and LOCF is
    // the standard sensor/telemetry repair before any windowed
    // aggregate runs.
    // Scale note: one user_id shuffle + per-user external sort; the
    // running frame is streaming state (one value), never a buffer.
    QueryDef("q115_locf_fill",
      """SELECT user_id, event_id,
        |  round(last_value(CASE WHEN event_type = 'error' THEN NULL
        |                        ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) + 0.0
        |    AS filled,
        |  CAST(event_type = 'error' AS BIGINT) AS was_gap
        |FROM events
        |ORDER BY user_id, epoch_us(ts), event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("_tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("_tus"),
          gf.roundz(last(
            when(col("event_type") === "error", lit(null)).otherwise(col("value")),
            ignoreNulls = true).over(w), 2).as("filled"),
          (col("event_type") === "error").cast("long").as("was_gap"))
        .orderBy("user_id", "_tus", "event_id")
        .drop("_tus")
    },

    // Cumulative distinct users by day (T73): the running COUNT
    // (DISTINCT ...) OVER (ORDER BY day) every growth dashboard wants —
    // computed the scale-safe way: each user collapses to a FIRST-SEEN
    // day (one hash aggregate), daily new-user counts are a bounded
    // day-keyed aggregate, and the cumulative sum runs over the
    // day-bounded series. The naive windowed count-distinct holds a
    // per-frame distinct set (corpus-sized state); this shape never
    // holds more than the day table.
    QueryDef("q116_cumulative_users",
      """WITH first_seen AS (
        |  SELECT user_id, min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS day
        |  FROM events GROUP BY user_id
        |), daily AS (
        |  SELECT day, count(*) AS new_users FROM first_seen GROUP BY day
        |)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(date_trunc("day", col("ts"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      // The unpartitioned window runs over the DAY table (bounded: one
      // row per day in the corpus), not over events.
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .select(col("day"), col("new_users"),
          sum("new_users").over(w).cast("long").as("cum_users"))
        .orderBy("day")
    },

    // Cohort retention matrix (T74): users grouped by FIRST-SEEN day
    // (the cohort), then for each cohort × day-offset the count of
    // cohort members active that day — the standard growth-analytics
    // triangle. Composes q116's first-seen aggregate with a distinct
    // (user, day) activity table.
    // Scale note: two user-keyed hash aggregates + one user-keyed
    // equi-join (same shuffle key — no extra exchange under AQE), and
    // the final rollup's key space is days × offsets, bounded by the
    // calendar, not the corpus.
    QueryDef("q117_cohort_retention",
      """WITH first_seen AS (
        |  SELECT user_id,
        |    min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS cohort_day
        |  FROM events GROUP BY user_id
        |), activity AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events
        |), sizes AS (
        |  SELECT cohort_day, count(*) AS cohort_users
        |  FROM first_seen GROUP BY cohort_day
        |), cells AS (
        |  SELECT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
        |      AS offset_days,
        |    count(*) AS active_users
        |  FROM activity a JOIN first_seen f USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT c.cohort_day, c.offset_days, c.active_users,
        |  s.cohort_users,
        |  round(c.active_users * 1.0 / s.cohort_users, 6) + 0.0 AS retention
        |FROM cells c JOIN sizes s USING (cohort_day)
        |ORDER BY cohort_day, offset_days""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val firstSeen = ev.groupBy("user_id")
        .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
      val activity = ev
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val sizes = firstSeen.groupBy("cohort_day")
        .agg(count(lit(1)).as("cohort_users"))
      val cells = activity.join(firstSeen, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long")
            .as("offset_days"))
        .agg(count(lit(1)).as("active_users"))
      // sizes is one row per calendar day — always broadcastable.
      cells.join(broadcast(sizes), "cohort_day")
        .select(col("cohort_day"), col("offset_days"), col("active_users"),
          col("cohort_users"),
          gf.roundz(col("active_users") * lit(1.0) / col("cohort_users"), 6)
            .as("retention"))
        .orderBy("cohort_day", "offset_days")
    },

    // EWMA smoothing (T75): exponentially weighted moving average over
    // each user's value timeline, truncated to the last EwmaSpan
    // observations and renormalized over the available history (so the
    // first rows of a timeline are exact means of what exists, not
    // biased toward a phantom zero history).
    // Implementation is a bounded LAG family — one window pass, O(span)
    // state per frame — never a self band-join (which would re-shuffle
    // the corpus) and never a collected frame list. All weights are
    // pow(0.5, k): exact powers of two, so both engines' products and
    // the fixed left-to-right sum agree bit-for-bit before rounding.
    QueryDef("q118_ewma_smooth", {
      val terms = (0 until EwmaSpan).map { k =>
        s"CASE WHEN lag(value, $k) OVER w IS NULL THEN 0.0 ELSE lag(value, $k) OVER w * ${EwmaWeight(k)} END"
      }.mkString(" + ")
      val dens = (0 until EwmaSpan).map { k =>
        s"CASE WHEN lag(value, $k) OVER w IS NULL THEN 0.0 ELSE ${EwmaWeight(k)} END"
      }.mkString(" + ")
      s"""SELECT user_id, event_id,
         |  round(($terms) / ($dens), 6) + 0.0 AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |ORDER BY user_id, event_id""".stripMargin
    }) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("_tus", "event_id")
      val lags = (0 until EwmaSpan).map(k => lag(col("value"), k).over(w))
      val num = lags.zipWithIndex.map { case (l, k) =>
        when(l.isNull, lit(0.0)).otherwise(l * lit(EwmaWeight(k)))
      }.reduceLeft(_ + _)
      val den = lags.zipWithIndex.map { case (l, k) =>
        when(l.isNull, lit(0.0)).otherwise(lit(EwmaWeight(k)))
      }.reduceLeft(_ + _)
      Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          gf.roundz(num / den, 6).as("ewma"))
        .orderBy("user_id", "event_id")
    },

    // SCD Type-2 versioned dimension (T76): collapse each user's event
    // stream into contiguous STATE intervals (state = event_type;
    // consecutive equal states merge into one version) with
    // effective-from / effective-to timestamps and a current flag —
    // the change-data-capture → history-table build every warehouse
    // runs, done as islands detection (lag ≠ current ⇒ version start)
    // + lead() for the closing edge.
    // Scale note: one user_id shuffle; both window passes reuse the
    // same (user, time) sort order — the second runs over the SHRUNK
    // change stream, not the corpus.
    QueryDef("q119_scd2_dim",
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS prev_type
        |  FROM events
        |), changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM ordered
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |), versioned AS (
        |  SELECT user_id, event_type AS state, ts AS eff_from,
        |    lead(ts) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS eff_to
        |  FROM changes
        |)
        |SELECT user_id, state, eff_from, eff_to,
        |  CAST(eff_to IS NULL AS BIGINT) AS is_current
        |FROM versioned
        |ORDER BY user_id, epoch_us(eff_from), state""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("_tus", "event_id")
      val changes = Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("_tus"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .where(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      changes
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("eff_from"), col("_tus"),
          lead(col("ts"), 1).over(w).as("eff_to"))
        .select(col("user_id"), col("state"), col("eff_from"),
          col("eff_to"), col("eff_to").isNull.cast("long").as("is_current"),
          col("_tus"))
        .orderBy(col("user_id"), col("_tus"), col("state"))
        .drop("_tus")
    },

    // Strict ORDERED funnel (T79): view → click → signup → purchase,
    // each step's earliest occurrence strictly AFTER the user's prior
    // step (q40 counts co-occurrence per day; this enforces sequence).
    // Per-step user counts, fraction of entry cohort, and step-to-step
    // conversion.
    // Scale note: each stage is a type-filtered user-keyed MIN
    // aggregate joined to the prior stage on user_id — four aggregates
    // and three joins ALL sharing the user_id shuffle key (AQE reuses
    // the exchange); no per-user event list is ever collected, no
    // window over the corpus. The 4-row census is driver-trivial.
    QueryDef("q122_ordered_funnel",
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t
        |  GROUP BY e.user_id
        |), sg AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'signup' AND epoch_us(e.ts) > c.t
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        |  JOIN sg ON sg.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > sg.t
        |  GROUP BY e.user_id
        |), counts AS (
        |  SELECT 1 AS step_no, 'view' AS step, count(*) AS users FROM v
        |  UNION ALL SELECT 2, 'click', count(*) FROM c
        |  UNION ALL SELECT 3, 'signup', count(*) FROM sg
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM p
        |)
        |SELECT CAST(step_no AS BIGINT) AS step_no, step, users,
        |  round(users * 1.0 / max(users) OVER (), 6) + 0.0 AS frac_of_entry,
        |  round(users * 1.0 /
        |    coalesce(lag(users) OVER (ORDER BY step_no), users), 6) + 0.0
        |    AS step_conversion
        |FROM counts ORDER BY step_no""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
      def firstAfter(typ: String, prior: DataFrame): DataFrame =
        ev.filter(col("event_type") === typ)
          .join(prior.select(col("user_id"), col("t").as("prior_t")), "user_id")
          .where(col("tus") > col("prior_t"))
          .groupBy("user_id").agg(min(col("tus")).as("t"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("tus")).as("t"))
      val c = firstAfter("click", v)
      val sg = firstAfter("signup", c)
      val p = firstAfter("purchase", sg)
      def cnt(no: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("users"))
          .select(lit(no).cast("long").as("step_no"),
            lit(name).as("step"), col("users"))
      val counts = cnt(1, "view", v).union(cnt(2, "click", c))
        .union(cnt(3, "signup", sg)).union(cnt(4, "purchase", p))
      val wAll = Window.partitionBy()
      val wOrd = Window.orderBy("step_no")
      counts
        .select(col("step_no"), col("step"), col("users"),
          gf.roundz(col("users") * lit(1.0) / max("users").over(wAll), 6)
            .as("frac_of_entry"),
          gf.roundz(col("users") * lit(1.0) /
            coalesce(lag(col("users"), 1).over(wOrd), col("users")), 6)
            .as("step_conversion"))
        .orderBy("step_no")
    },

    // Event transition matrix (T80): the first-order Markov chain over
    // each user's event sequence — count and row-normalized probability
    // for every (state → next state) pair. The path-analysis /
    // next-event-prediction primitive (and the chain the q122 funnel
    // walks one branch of).
    // Scale note: one user_id shuffle + per-user sort for the lead();
    // everything after is bounded by |event_type|² (25 cells here), so
    // the normalization join is over a constant-size frame.
    QueryDef("q123_transition_matrix",
      """WITH tr AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS dst
        |  FROM events
        |), pairs AS (
        |  SELECT src, dst, count(*) AS cnt FROM tr
        |  WHERE dst IS NOT NULL GROUP BY src, dst
        |), tot AS (SELECT src, sum(cnt) AS t FROM pairs GROUP BY src)
        |SELECT p.src, p.dst, p.cnt, round(p.cnt * 1.0 / t.t, 6) + 0.0 AS prob
        |FROM pairs p JOIN tot t USING (src)
        |ORDER BY src, dst""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("_tus", "event_id")
      val pairs = Tables.events(s, dir)
        .withColumn("_tus", unix_micros(col("ts")))
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .where(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      val tot = pairs.groupBy("src").agg(sum("cnt").as("t"))
      pairs.join(tot, "src")
        .select(col("src"), col("dst"), col("cnt"),
          gf.roundz(col("cnt") * lit(1.0) / col("t"), 6).as("prob"))
        .orderBy("src", "dst")
    },

    // T99 — population-stability-index (PSI) drift census: for each
    // event_type, split its timeline at the epoch-µs midpoint
    // (integer arithmetic — engine-identical), bin values into 10
    // equal-width bins over the type's COMBINED value range (the
    // single-stats-pass PSI variant: range and midpoint both come
    // from one aggregate, so the corpus is scanned exactly TWICE —
    // classic ref-half binning would need a third pass), and report
    // PSI = Σ (q−p)·ln(q/p) with Laplace-smoothed bin fractions
    // ((c+0.5)/(n+5) — exact IEEE ops, so p/q are bit-identical
    // cross-engine; smoothing also makes empty bins well-defined).
    // The distribution-drift monitor a pipeline runs per feed —
    // q71's source-vs-source divergence is over TOKENS, this is over
    // a numeric feature through TIME. Scale: two corpus scans (type
    // stats, then (half, bin) counts — both map-side-partial
    // aggregates with a type-bounded broadcast back); everything
    // after the counts is (types × 10)-bounded, zero-count bins
    // included via an exploded bin spine, never a corpus re-scan.
    QueryDef("q132_psi_drift",
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS tus, value
        |  FROM events WHERE value IS NOT NULL
        |), stats AS (
        |  SELECT event_type, (min(tus) + max(tus)) // 2 AS mid,
        |    min(value) AS lo, max(value) AS hi
        |  FROM e GROUP BY event_type
        |), binned AS (
        |  SELECT e.event_type,
        |    CASE WHEN e.tus <= s.mid THEN 0 ELSE 1 END AS half,
        |    CASE WHEN s.hi <= s.lo THEN 0
        |      ELSE CAST(least(greatest(
        |        floor((e.value - s.lo) / ((s.hi - s.lo) / 10.0)), 0), 9)
        |        AS INT)
        |    END AS bin
        |  FROM e JOIN stats s USING (event_type)
        |), counts AS (
        |  SELECT event_type, half, bin, count(*) AS c
        |  FROM binned GROUP BY event_type, half, bin
        |), totals AS (
        |  SELECT event_type,
        |    sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS nref,
        |    sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS ncur
        |  FROM counts GROUP BY event_type
        |), spine AS (
        |  SELECT t.event_type, g.b AS bin, t.nref, t.ncur
        |  FROM totals t, unnest(generate_series(0, 9)) AS g(b)
        |), pq AS (
        |  SELECT s.event_type, s.nref, s.ncur,
        |    (coalesce(cr.c, 0) + 0.5) / (s.nref + 5.0) AS pf,
        |    (coalesce(cc.c, 0) + 0.5) / (s.ncur + 5.0) AS qf
        |  FROM spine s
        |  LEFT JOIN counts cr ON cr.event_type = s.event_type
        |    AND cr.half = 0 AND cr.bin = s.bin
        |  LEFT JOIN counts cc ON cc.event_type = s.event_type
        |    AND cc.half = 1 AND cc.bin = s.bin
        |)
        |SELECT event_type, CAST(nref AS BIGINT) AS n_ref,
        |  CAST(ncur AS BIGINT) AS n_cur,
        |  round(sum((qf - pf) * ln(qf / pf)), 6) + 0.0 AS psi
        |FROM pq GROUP BY event_type, nref, ncur
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("tus"),
          col("value"))
      val stats = broadcast(e.groupBy("event_type")
        .agg(min("tus").as("mn"), max("tus").as("mx"),
          min("value").as("lo"), max("value").as("hi"))
        .select(col("event_type"), expr("(mn + mx) div 2").as("mid"),
          col("lo"), col("hi")))
      val binned = e.join(stats, "event_type")
        .select(col("event_type"),
          when(col("tus") <= col("mid"), 0).otherwise(1).as("half"),
          when(col("hi") <= col("lo"), 0)
            .otherwise(least(greatest(
              floor((col("value") - col("lo")) /
                ((col("hi") - col("lo")) / 10.0)), lit(0L)), lit(9L))
              .cast("int"))
            .as("bin"))
      // ONE (type, bin) aggregate with the halves pivoted into
      // conditional sums, PERSISTED (types × 10 rows) — referenced by
      // both the totals and the spine join below; without the cache
      // each reference re-runs the corpus scan + join + aggregate.
      val counts = graft.CacheRegistry.persistTracked(
        binned.groupBy("event_type", "bin")
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("cref"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("ccur")),
        graft.CacheRegistry.DataSized)
      val totals = counts.groupBy("event_type")
        .agg(sum("cref").as("nref"), sum("ccur").as("ncur"))
      val spine = totals
        .select(col("event_type"), col("nref"), col("ncur"),
          explode(sequence(lit(0), lit(9))).as("bin"))
      val pq = spine
        .join(counts, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("nref"), col("ncur"),
          ((coalesce(col("cref"), lit(0L)) + 0.5) / (col("nref") + 5.0))
            .as("pf"),
          ((coalesce(col("ccur"), lit(0L)) + 0.5) / (col("ncur") + 5.0))
            .as("qf"))
      pq.groupBy("event_type", "nref", "ncur")
        .agg(gf.roundz(sum((col("qf") - col("pf")) * log(col("qf") / col("pf"))),
          6).as("psi"))
        .select(col("event_type"), col("nref").as("n_ref"),
          col("ncur").as("n_cur"), col("psi"))
        .orderBy("event_type")
    },

    // T118 — CUSUM change-point localization (offline AMOC via
    // max-|cumulative deviation|, Page 1954 / Hinkley 1970): for each
    // event_type, the day where the running sum of (daily count −
    // overall mean) peaks in magnitude — the classic single-changepoint
    // estimate, answering WHERE the level shifted (q132's PSI says IF
    // the distribution drifted between halves; q118's EWMA smooths; a
    // changepoint query localizes). pre/post means quantify the shift.
    // Scale shape: ONE corpus-scan aggregate collapses events to the
    // (types × days)-bounded daily-count frame (persisted — three
    // consumers: stats, the cumsum, the pre/post rollup); every window
    // and join downstream runs on that bounded frame, never on raw
    // events. The cumsum accumulates in day order (a pinned sequential
    // frame — bit-identical in any engine); ties in |S_t| break on the
    // earliest day.
    QueryDef("q143_cusum_changepoint",
      """WITH cells AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, CAST(sum(c) AS DOUBLE) / count(*) AS m,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM cells GROUP BY event_type
        |), cum AS (
        |  SELECT c.event_type, c.day, c.c, s.n_days,
        |    sum(c.c - s.m) OVER (PARTITION BY c.event_type ORDER BY c.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t
        |  FROM cells c JOIN stats s ON c.event_type = s.event_type
        |), pick AS (
        |  SELECT event_type, day AS change_day, n_days, abs(s_t) AS max_dev
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |          ORDER BY abs(s_t) DESC, day) AS rn FROM cum)
        |  WHERE rn = 1
        |)
        |SELECT p.event_type, p.change_day, p.n_days,
        |  round(p.max_dev, 4) + 0.0 AS max_dev,
        |  round(CAST(sum(CASE WHEN c.day <= p.change_day THEN c.c END)
        |      AS DOUBLE)
        |    / count(CASE WHEN c.day <= p.change_day THEN 1 END), 4) + 0.0
        |    AS pre_mean,
        |  round(CAST(sum(CASE WHEN c.day > p.change_day THEN c.c END)
        |      AS DOUBLE)
        |    / count(CASE WHEN c.day > p.change_day THEN 1 END), 4) + 0.0
        |    AS post_mean
        |FROM pick p JOIN cells c ON p.event_type = c.event_type
        |GROUP BY p.event_type, p.change_day, p.n_days, p.max_dev
        |ORDER BY p.event_type""".stripMargin) { (s, dir) =>
      val cells = graft.CacheRegistry.persistTracked(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("c")),
        graft.CacheRegistry.Bounded) // types × days
      val stats = cells.groupBy("event_type")
        .agg((sum("c").cast("double") / count(lit(1))).as("m"),
          count(lit(1)).as("n_days"))
      val cumW = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells.join(stats, "event_type")
        .withColumn("s_t", sum(col("c") - col("m")).over(cumW))
      val rnW = Window.partitionBy("event_type")
        .orderBy(abs(col("s_t")).desc, col("day"))
      val pick = cum.withColumn("rn", row_number().over(rnW))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          col("n_days"), abs(col("s_t")).as("max_dev"))
      pick.join(cells, "event_type")
        .groupBy("event_type", "change_day", "n_days", "max_dev")
        .agg(
          gf.roundz(sum(when(col("day") <= col("change_day"), col("c")))
            .cast("double")
            / count(when(col("day") <= col("change_day"), lit(1))), 4)
            .as("pre_mean"),
          gf.roundz(sum(when(col("day") > col("change_day"), col("c")))
            .cast("double")
            / count(when(col("day") > col("change_day"), lit(1))), 4)
            .as("post_mean"))
        .select(col("event_type"), col("change_day"), col("n_days"),
          gf.roundz(col("max_dev"), 4).as("max_dev"),
          col("pre_mean"), col("post_mean"))
        .orderBy("event_type")
    },

    // T122 — lag-k autocorrelation census (sample ACF, Box–Jenkins
    // 1970): per event_type, the Pearson correlation between the daily
    // count series and itself shifted by k = 1..7 days. Completes the
    // drift triptych: PSI (q132) says IF the value distribution moved,
    // CUSUM (q143) says WHERE the level shifted, ACF says whether the
    // series has MEMORY (weekly seasonality shows as a lag-7 peak; a
    // near-zero ACF certifies the daily counts as independent — the
    // assumption every i.i.d.-based sampler upstream quietly makes).
    // Scale shape: ONE corpus-scan aggregate collapses events to the
    // (types × days)-bounded daily frame (persisted — the self-join
    // reads it twice); the lag fan-out is a 7-row broadcast; every
    // moment downstream is an EXACT LONG sum (Σx, Σx², Σx_t·x_{t+k},
    // pair-edge sums), so the final ACF is a handful of double ops on
    // exact integers — bit-identical in any engine at any partitioning,
    // no rounding-before-the-math anywhere.
    QueryDef("q145_acf_lags",
      """WITH cells AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS sx,
        |    CAST(sum(c * c) AS BIGINT) AS sxx,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM cells GROUP BY event_type
        |), lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
        |pairs AS (
        |  SELECT a.event_type, l.lag,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS sp,
        |    CAST(sum(a.c) AS BIGINT) AS s1,
        |    CAST(sum(b.c) AS BIGINT) AS s2,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM cells a CROSS JOIN lags l
        |  JOIN cells b ON b.event_type = a.event_type
        |    AND b.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY a.event_type, l.lag
        |)
        |SELECT p.event_type, p.lag, p.n_pairs,
        |  round((CAST(p.sp AS DOUBLE)
        |      - (CAST(s.sx AS DOUBLE) / s.n_days) * p.s1
        |      - (CAST(s.sx AS DOUBLE) / s.n_days) * p.s2
        |      + p.n_pairs * (CAST(s.sx AS DOUBLE) / s.n_days)
        |        * (CAST(s.sx AS DOUBLE) / s.n_days))
        |    / (CAST(s.sxx AS DOUBLE)
        |      - s.n_days * (CAST(s.sx AS DOUBLE) / s.n_days)
        |        * (CAST(s.sx AS DOUBLE) / s.n_days)), 6) + 0.0 AS acf
        |FROM pairs p JOIN stats s ON p.event_type = s.event_type
        |ORDER BY p.event_type, p.lag""".stripMargin) { (s, dir) =>
      val cells = graft.CacheRegistry.persistTracked(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("c")),
        graft.CacheRegistry.Bounded) // types × days
      val stats = cells.groupBy("event_type")
        .agg(sum("c").as("sx"), sum(col("c") * col("c")).as("sxx"),
          count(lit(1)).as("n_days"))
      val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
      val a = cells.select(col("event_type"), col("day"), col("c"))
        .crossJoin(broadcast(lags))
      val b = cells.select(col("event_type").as("event_type_b"),
        col("day").as("day_b"), col("c").as("c_b"))
      val pairs = a.join(b,
          col("event_type_b") === col("event_type") &&
            col("day_b") === date_add(col("day"), col("lag")))
        .groupBy("event_type", "lag")
        .agg(sum(col("c") * col("c_b")).as("sp"), sum("c").as("s1"),
          sum("c_b").as("s2"), count(lit(1)).as("n_pairs"))
      val m = col("sx").cast("double") / col("n_days")
      pairs.join(stats, "event_type")
        .select(col("event_type"), col("lag"), col("n_pairs"),
          gf.roundz((col("sp").cast("double") - m * col("s1") - m * col("s2")
              + col("n_pairs") * m * m)
            / (col("sxx").cast("double") - col("n_days") * m * m), 6)
            .as("acf"))
        .orderBy("event_type", "lag")
    },

    // T128 — OLS trend-slope census: per event_type, the least-squares
    // line through (day index, daily count) — slope, intercept, r².
    // Completes the drift quartet: PSI (q132) says IF values moved,
    // CUSUM (q143) WHERE the level shifted, ACF (q145) whether the
    // series has memory, and the trend line says WHICH WAY and HOW
    // FAST the volume is going (the capacity-planning readout).
    // Scale shape: the same ONE corpus-scan (types × days)-bounded
    // daily frame; x = days-since-first-day (integer), y = count, so
    // ALL five regression moments are EXACT LONG sums — slope,
    // intercept and r² are a handful of double ops on exact integers,
    // bit-identical at any partitioning (moments cast to double before
    // multiplying: n·Σxy overflows nothing and both engines follow the
    // identical expression tree).
    QueryDef("q151_trend_slope",
      """WITH cells AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), base AS (
        |  SELECT event_type, min(day) AS d0 FROM cells GROUP BY event_type
        |), xy AS (
        |  SELECT c.event_type, CAST(c.day - b.d0 AS BIGINT) AS x, c.c AS y
        |  FROM cells c JOIN base b ON c.event_type = b.event_type
        |), s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM xy GROUP BY event_type
        |), d AS (
        |  SELECT event_type, n, sx, sy, syy,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS den
        |  FROM s
        |), t AS (
        |  SELECT event_type, n, sx, sy, syy, num, den, num / den AS slope
        |  FROM d
        |)
        |SELECT event_type, n AS n_days,
        |  round(slope, 6) + 0.0 AS slope,
        |  round((CAST(sy AS DOUBLE) - slope * sx) / n, 6) + 0.0 AS intercept,
        |  round(num * num
        |    / (den * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
        |    AS r2
        |FROM t ORDER BY event_type""".stripMargin) { (s, dir) =>
      // Persisted like q145's identical frame: `cells` feeds BOTH the
      // per-type min-day frame and the xy join — without the persist
      // the full events scan+aggregate would run twice.
      val cells = graft.CacheRegistry.persistTracked(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("c")),
        graft.CacheRegistry.Bounded) // types × days
      val base = cells.groupBy("event_type").agg(min("day").as("d0"))
      val xy = cells.join(base, "event_type")
        .select(col("event_type"),
          datediff(col("day"), col("d0")).cast("long").as("x"),
          col("c").as("y"))
      val st = xy.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val d = st
        .withColumn("num", col("n").cast("double") * col("sxy")
          - col("sx").cast("double") * col("sy"))
        .withColumn("den", col("n").cast("double") * col("sxx")
          - col("sx").cast("double") * col("sx"))
      val t = d.withColumn("slope", col("num") / col("den"))
      t.select(col("event_type"), col("n").as("n_days"),
          gf.roundz(col("slope"), 6).as("slope"),
          gf.roundz((col("sy").cast("double") - col("slope") * col("sx"))
            / col("n"), 6).as("intercept"),
          gf.roundz(col("num") * col("num")
            / (col("den") * (col("n").cast("double") * col("syy")
              - col("sy").cast("double") * col("sy"))), 6).as("r2"))
        .orderBy("event_type")
    }
  )

  /** q118's smoothing lookback: EWMA truncated to the last 8
    * observations (weights below 0.5^8 contribute < 0.4% — the tail is
    * renormalized away). Bounded so the window state is O(1). */
  private final val EwmaSpan = 8 // literal constant: folded at compile
                                 // time, safe to reference from `defs`
                                 // above despite object-init order

  /** Exact power-of-two weight (1/2)^k, printed losslessly for the
    * oracle SQL so both engines multiply by the identical double. */
  private def EwmaWeight(k: Int): Double = math.pow(0.5, k)
}
