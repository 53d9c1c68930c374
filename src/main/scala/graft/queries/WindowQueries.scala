package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QueryUtil._
import graft.streaming.Windows

/** Event-time windowing inventory (SURVEY.md §2.4), oracle-tested in batch:
  * window assignment is the same expression in batch and streaming, so the
  * DuckDB oracle validates the streaming semantics cheaply (SURVEY §7
  * Phase 3a). Streaming execution of the same windows is covered by
  * StreamingSpec with MemoryStream.
  */
object WindowQueries {

  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // FixedWindows: hourly tumbling counts + sums over events.
    "q_fixed_window" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(Windows.fixed(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy(col("w_start"))
    },

    // SlidingWindows: 1h windows every 30m — each event in exactly 2.
    "q_sliding_window" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(Windows.sliding(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .orderBy(col("w_start"))
    },

    // Sessions: 15-minute-gap merging windows per user.
    "q_session_window" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id"), Windows.sessions(col("ts"), "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          date_trunc("second", col("w.start")).as("session_start"),
          col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Sessions with a PER-ROW dynamic gap (the sessionsDynamic superset):
    // each event extends its session by length(event_type)*3 minutes, so
    // different event types keep sessions alive for different spans.
    // Merge rule: sorted by ts, a row starts a new session iff its ts is
    // >= the running max of previous (ts + gap) — end-exclusive, matching
    // session_window — which the oracle replays as a window-function
    // island computation.
    "q_session_dynamic" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id"),
          Windows.sessionsDynamic(col("ts"),
            // session_window demands CalendarIntervalType for dynamic gaps
            expr("make_interval(0, 0, 0, 0, 0, length(event_type) * 3, 0)")).as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          date_trunc("second", col("w.start")).as("session_start"),
          col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Sessionized PATH analysis: lag-based 15-minute sessionization
    // (user-partitioned windows, never global), then the first five
    // event types of each session as a '>'-joined path, ranked by
    // session count — the "how do users move through the product"
    // query. Full oracle: the lag/running-sum islands, the ordered
    // list aggregation, and the top-20 cut all replay in SQL.
    "q_session_paths" -> { (s, dir) =>
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("ns", when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >=
            15L * 60L * 1000000L, 1).otherwise(0))
        .withColumn("sess_no", sum(col("ns")).over(byUser))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(concat_ws(">",
          slice(transform(col("evs"), e => e.getField("event_type")), 1, 5))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(20)
        .orderBy(col("path"))
    },

    // Trailing-window rate anomaly: hourly per-type counts scored
    // against the preceding 24 hours — spike/dip flags in EXACT integer
    // arithmetic (n·cnt vs 2·sum cross-multiplication, never a float
    // mean or stddev whose summation order could drift cross-engine).
    // Type-partitioned window; ≥12 trailing hours required to score.
    "q_anomaly_rate" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(-24, -1)
      Tables(s, dir).events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail_sum", sum(col("n")).over(w))
        .withColumn("trail_cnt", count(col("n")).over(w))
        .filter(col("trail_cnt") >= 12)
        .select(col("event_type"), col("hour"), col("n"),
          col("trail_sum"), col("trail_cnt"),
          (col("n") * col("trail_cnt") > col("trail_sum") * 2).as("spike_hi"),
          (col("n") * col("trail_cnt") * 2 < col("trail_sum")).as("dip_lo"))
        .orderBy(col("event_type"), col("hour"))
    },

    // CalendarWindows.months over orders.
    "q_calendar_window" -> { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(Windows.calendar(col("o_orderdate"), "month").as("month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("month"))
    },

    // GlobalWindows: single window covering all time — plain global agg.
    "q_global_window" -> { (s, dir) =>
      Tables(s, dir).events.agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
    },

    // OutputTimeFn (END_OF_WINDOW / EARLIEST / LATEST) surfaced as columns
    // of a fixed-window aggregate.
    "q_output_time" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(Windows.fixed(col("ts"), "1 hour").as("w"))
        .agg(
          Windows.outputTimeEarliest(col("ts")).as("earliest_ts"),
          Windows.outputTimeLatest(col("ts")).as("latest_ts"),
          count(lit(1)).as("n"))
        .select(
          Windows.outputTimeEndOfWindow(col("w")).as("end_of_window"),
          col("earliest_ts"), col("latest_ts"), col("n"))
        .orderBy(col("end_of_window"))
    },

    // Custom merging WindowFn: per-row intervals [ts, ts + 2·len(type) min]
    // merged per user into maximal windows — the general mergeWindows
    // contract of which Sessions is the fixed-gap special case.
    "q_merge_intervals" -> { (s, dir) =>
      val e = Tables(s, dir).events
        .select(col("user_id"), col("ts"),
          (col("ts") + expr("make_dt_interval(0, 0, length(event_type) * 2, 0)")).as("te"))
      Windows.mergeIntervals(e, Seq("user_id"), col("ts"), col("te"))
        .groupBy(col("user_id"), col("window_id"))
        .agg(min(col("ts")).as("w_start"), max(col("te")).as("w_end"),
          count(lit(1)).as("n"))
        .select(col("user_id"), col("w_start"), col("w_end"), col("n"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // Stream-stream windowed CoGroupByKey, batch-executed: the IDENTICAL
    // code path runs on two unbounded streams (StreamJoinSpec proves
    // batch ≡ stream); this query puts the batch leg under the DuckDB
    // oracle. Sides split portably by event-type length parity. Per-side
    // array sums accumulate in DECIMAL so they are order-independent.
    // The reference's canonical two-stream windowed CoGBK, run as a REAL
    // streaming query (VERDICT r10 task 7): each side replays from its
    // own ordered file feed (per-source watermarks, min-combined by the
    // union-side design), windows emit on seal in append mode, and two
    // far-future flush rows per side (user −1, filtered from the output)
    // push BOTH watermarks past every real window. Values aggregate as
    // sorted multisets, so the sealed rows are arrival- and batch-split-
    // invariant; the oracle is unchanged from the batch leg.
    "q_stream_cogbk" -> { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_type"), col("value").cast("double").as("value"))
        .persist() // feeds the max scan + both sides' grid-cell filters
      // flush timestamps derive from the GLOBAL max event time (both
      // sides share it): under the min-combined watermark policy each
      // side's flush must clear the last window end across BOTH sides
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      // ~2 cells per side at any span — sealed windows are batch-
      // invariant, so the grid is pure replay cost (coarsened 4→2 in
      // r15: the oracle is the batch leg's SQL and never sees batch
      // boundaries; windows still seal across ≥2 boundaries per side);
      // derived ONCE from the shared persisted frame, not per side
      val cellUs = ReplayFeed.adaptiveCellUs(ev, "ts", 2)
      def feedOf(side: DataFrame): String = {
        val feed = ReplayFeed.tmp("cg_feed")
        val flush = Seq(1, 2).map(d => s.range(1).select(
          lit(-1L).as("user_id"),
          timestamp_micros(lit(maxUs + d * 86400000000L)).as("ts"),
          lit(0.0).as("value"), lit(maxUs / cellUs + d).as("__seq")))
        // one seq-partitioned write job per side (was one filter+
        // coalesce(1) write + one isEmpty probe per grid cell)
        ReplayFeed.writeSeqFeed(
          flush.foldLeft(side.drop("event_type")
            .withColumn("__seq", ReplayFeed.cellSeq("ts", cellUs)))(
            _ unionByName _), feed)
        feed
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
      val a = feedOf(ev.filter(length(col("event_type")) % 2 === 0))
      val b = feedOf(ev.filter(length(col("event_type")) % 2 === 1))
      def dsumArr(c: Column): Column =
        aggregate(c, lit(0).cast("decimal(38,4)"),
          (acc, x) => acc + x.cast("decimal(18,4)")).cast("double")
      // the per-side flush rows seal every window in a real batch
      // (oracle-proven against the batch leg)
      val out = ReplayRunner.run(s, keepNoDataBatches = false)(graft.streaming.StreamOps.streamCoGroupByKey(
        ReplayRunner.stream(s, schema, a), ReplayRunner.stream(s, schema, b),
        Seq("user_id"), "ts", "1 hour", "10 minutes", col("value"), col("value")))
      ev.unpersist()
      out
        .filter(col("user_id") >= 0)
        .select(col("window.start").as("w_start"), col("user_id"),
          size(col("a_values")).as("n_a"), dsumArr(col("a_values")).as("sum_a"),
          size(col("b_values")).as("n_b"), dsumArr(col("b_values")).as("sum_b"))
        .orderBy(col("w_start"), col("user_id"))
    },

    // N-way (N=3) windowed CoGroupByKey as a REAL three-stream query
    // (VERDICT r12 task 6): each side replays from its OWN ordered feed
    // with its OWN withWatermark node, so window finalization is held by
    // the min-combined watermark across THREE source nodes — the Beam
    // propagation rule q_stream_cogbk proves for N=2. The c side replays
    // on a coarser grid (2 cells vs 4), so its watermark advances in
    // different, later strides than a/b's: under any policy other than
    // "min", windows would seal while a slower side's rows were still in
    // flight and the per-side counts would visibly diverge from the
    // oracle. Values aggregate as per-side counts + exact DECIMAL sums,
    // so sealed rows are arrival- and batch-split-invariant.
    "q_stream_cogbk3" -> { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_type"), col("value").cast("double").as("value"))
        .persist() // feeds the max scan + three sides' grid-cell filters
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      def feedOf(side: DataFrame, targetCells: Int): String = {
        val feed = ReplayFeed.tmp("cg3_feed")
        val cellUs = ReplayFeed.adaptiveCellUs(side, "ts", targetCells)
        val flush = Seq(1, 2).map(d => s.range(1).select(
          lit(-1L).as("user_id"),
          timestamp_micros(lit(maxUs + d * 86400000000L)).as("ts"),
          lit(0.0).as("value"), lit(maxUs / cellUs + d).as("__seq")))
        // one seq-partitioned write job per side (was one filter+
        // coalesce(1) write + one isEmpty probe per grid cell)
        ReplayFeed.writeSeqFeed(
          flush.foldLeft(side.drop("event_type")
            .withColumn("__seq", ReplayFeed.cellSeq("ts", cellUs)))(
            _ unionByName _), feed)
        feed
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
      val m3 = length(col("event_type")) % 3
      val sides = Seq(("a", 0, 4), ("b", 1, 4), ("c", 2, 2)).map {
        case (name, m, cells) => (name, feedOf(ev.filter(m3 === m), cells))
      }
      // the per-side flush rows seal every window in a real batch
      // (oracle-proven against the batch leg)
      val out = ReplayRunner.run(s, keepNoDataBatches = false)(graft.streaming.StreamOps.streamCoGroupByKeyN(
        sides.map { case (name, feed) =>
          (name, ReplayRunner.stream(s, schema, feed), col("value"), "10 minutes")
        },
        Seq("user_id"), "ts", "1 hour"))
      ev.unpersist()
      def dsumArr(c: Column): Column =
        aggregate(c, lit(0).cast("decimal(38,4)"),
          (acc, x) => acc + x.cast("decimal(18,4)")).cast("double")
      out
        .filter(col("user_id") >= 0)
        .select(col("window.start").as("w_start"), col("user_id"),
          size(col("a_values")).as("n_a"), dsumArr(col("a_values")).as("sum_a"),
          size(col("b_values")).as("n_b"), dsumArr(col("b_values")).as("sum_b"),
          size(col("c_values")).as("n_c"), dsumArr(col("c_values")).as("sum_c"))
        .orderBy(col("w_start"), col("user_id"))
    },

    // Stream-stream interval join, batch-executed (same dual-mode code
    // path; StreamJoinSpec proves the streaming leg). Event times emitted
    // as epoch micros — both engines floor ns → µs identically.
    "q_stream_interval_join" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val a = ev.filter(length(col("event_type")) % 2 === 0)
        .select(col("user_id"), col("ts"), col("value"))
      val b = ev.filter(length(col("event_type")) % 2 === 1)
        .select(col("user_id"), col("ts"), col("value"))
      graft.streaming.StreamOps.streamIntervalJoin(
          a, b, Seq("user_id"), "ts", "ts",
          "10 minutes", "30 minutes", "30 minutes")
        .select(col("user_id"),
          unix_micros(col("ts")).as("l_us"), col("value").as("l_value"),
          unix_micros(col("r_ts")).as("r_us"), col("r_value"))
        .orderBy(col("user_id"), col("l_us"), col("l_value"),
          col("r_us"), col("r_value"))
    },
  )

  val oracles: Map[String, String] = Map(

    "q_session_paths" ->
      """WITH e AS (
           SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 15 MINUTE
                  THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sess_no
           FROM e),
         p AS (
           SELECT array_to_string(
             (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
           FROM s GROUP BY user_id, sess_no),
         top AS (
           SELECT path, count(*) AS n_sessions FROM p GROUP BY path
           ORDER BY n_sessions DESC, path LIMIT 20)
         SELECT path, n_sessions FROM top ORDER BY path""",

    "q_anomaly_rate" ->
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, hour, n,
             sum(n) OVER w AS trail_sum, count(n) OVER w AS trail_cnt
           FROM h
           WINDOW w AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, hour, n,
           CAST(trail_sum AS BIGINT) AS trail_sum, trail_cnt,
           n * trail_cnt > trail_sum * 2 AS spike_hi,
           n * trail_cnt * 2 < trail_sum AS dip_lo
         FROM t WHERE trail_cnt >= 12
         ORDER BY event_type, hour""",
    "q_fixed_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY w_start ORDER BY w_start""",
    "q_sliding_window" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS w_start,
           count(*) AS n
         FROM events, (SELECT unnest([0, 1]) AS k) k
         GROUP BY w_start ORDER BY w_start""",
    "q_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '15 minutes'
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
           FROM flagged)
         SELECT user_id, date_trunc('second', min(ts)) AS session_start,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "q_session_dynamic" ->
      """WITH iv AS (
           SELECT user_id, ts, value,
             ts + length(event_type) * 3 * INTERVAL '1 minute' AS te
           FROM events),
         flagged AS (
           SELECT user_id, ts, value, te,
             CASE WHEN max(te) OVER pw IS NULL OR ts >= max(te) OVER pw
                  THEN 1 ELSE 0 END AS new_s
           FROM iv
           WINDOW pw AS (PARTITION BY user_id ORDER BY ts, te
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sess AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, te) AS sid
           FROM flagged)
         SELECT user_id, date_trunc('second', min(ts)) AS session_start,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "q_calendar_window" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY month ORDER BY month""",
    "q_global_window" ->
      """SELECT count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
         FROM events""",
    "q_output_time" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS end_of_window,
           min(ts) AS earliest_ts, max(ts) AS latest_ts, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_merge_intervals" ->
      """WITH iv AS (
           SELECT user_id, ts, ts + length(event_type) * 2 * INTERVAL '1 minute' AS te
           FROM events),
         flagged AS (
           SELECT user_id, ts, te,
             CASE WHEN max(te) OVER pw IS NULL OR ts > max(te) OVER pw
                  THEN 1 ELSE 0 END AS new_w
           FROM iv
           WINDOW pw AS (PARTITION BY user_id ORDER BY ts, te
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         wi AS (
           SELECT user_id, ts, te,
             sum(new_w) OVER (PARTITION BY user_id ORDER BY ts, te) AS wid
           FROM flagged)
         SELECT user_id, min(ts) AS w_start, max(te) AS w_end, count(*) AS n
         FROM wi GROUP BY user_id, wid
         ORDER BY user_id, w_start""",
    "q_stream_cogbk" ->
      """WITH a AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS w_start,
                  count(*) AS n_a, SUM(CAST(value AS DECIMAL(18,4))) AS s_a
           FROM events WHERE length(event_type) % 2 = 0 GROUP BY 1, 2),
         b AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS w_start,
                  count(*) AS n_b, SUM(CAST(value AS DECIMAL(18,4))) AS s_b
           FROM events WHERE length(event_type) % 2 = 1 GROUP BY 1, 2)
         SELECT coalesce(a.w_start, b.w_start) AS w_start,
                coalesce(a.user_id, b.user_id) AS user_id,
                coalesce(n_a, 0) AS n_a, CAST(coalesce(s_a, 0) AS DOUBLE) AS sum_a,
                coalesce(n_b, 0) AS n_b, CAST(coalesce(s_b, 0) AS DOUBLE) AS sum_b
         FROM a FULL OUTER JOIN b
           ON a.user_id = b.user_id AND a.w_start = b.w_start
         ORDER BY w_start, user_id""",
    // three-way CoGBK replayed as one tagged aggregation: per (window,
    // user), per-tag counts and exact DECIMAL sums — empty iterables
    // come back as 0 counts, matching the engine's empty arrays.
    "q_stream_cogbk3" ->
      """WITH u AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS w_start,
                  length(event_type) % 3 AS tag, value
           FROM events)
         SELECT w_start, user_id,
           CAST(SUM(CASE WHEN tag = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN tag = 0 THEN CAST(value AS DECIMAL(18,4))
                         ELSE 0 END) AS DOUBLE) AS sum_a,
           CAST(SUM(CASE WHEN tag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN tag = 1 THEN CAST(value AS DECIMAL(18,4))
                         ELSE 0 END) AS DOUBLE) AS sum_b,
           CAST(SUM(CASE WHEN tag = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(SUM(CASE WHEN tag = 2 THEN CAST(value AS DECIMAL(18,4))
                         ELSE 0 END) AS DOUBLE) AS sum_c
         FROM u GROUP BY 1, 2 ORDER BY w_start, user_id""",

    "q_stream_interval_join" ->
      """WITH a AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE length(event_type) % 2 = 0),
         b AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE length(event_type) % 2 = 1)
         SELECT a.user_id AS user_id,
                epoch_us(a.ts) AS l_us, a.value AS l_value,
                epoch_us(b.ts) AS r_us, b.value AS r_value
         FROM a JOIN b ON a.user_id = b.user_id
           AND b.ts >= a.ts - INTERVAL '30 minutes'
           AND b.ts <= a.ts + INTERVAL '30 minutes'
         ORDER BY user_id, l_us, l_value, r_us, r_value""",
  )
}
