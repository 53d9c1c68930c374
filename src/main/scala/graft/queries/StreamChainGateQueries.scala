package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.queries.QueryUtil._
import graft.streaming._

/** Driver gates for the seven sealed-chain streaming operators
  * (VERDICT r10 task 2): each runs the REAL streaming processor —
  * EWMA, CUSUM, Holt, Holt-Winters, gap-fill, funnel, rate-anomaly —
  * as an AvailableNow query over a deterministic ordered file replay
  * of the events table (the q_stream_dedup device via [[ReplayFeed]]),
  * then flushes the watermark past every real slot with two far-future
  * sentinel rows so EVERYTHING seals. The sealed output of each chain
  * equals its batch leg bit for bit (the r10 *StreamSpec equalities),
  * so the oracle is the batch leg's already-green DuckDB SQL, reused
  * VERBATIM — the driver now proves the streaming execution itself,
  * not just the batch-shaped kernel.
  *
  * Determinism: the feeds are cut on an epoch-aligned adaptive day grid
  * (~2 cells at any sf; hour- and 4-hour-aligned, so no slot ever spans two files), files
  * replay oldest-first one per micro-batch, and every emitted row is a
  * sealed slot whose value depends only on the slot's own rows and its
  * predecessors — batch-boundary-invariant by the seal discipline.
  */
object StreamChainGateQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Replay chunk grid target: ~2 cells whatever the data span (the
    * sealed-chain outputs are batch-boundary-invariant, so the grid is
    * pure replay cost — VERDICT r11 task 4, coarsened again in r15 per
    * the VERDICT r14 "coarser grid where the oracle does not replay
    * batch boundaries" directive). At the 31-day fixtures the derived
    * 16-day cells give 2-3 data files + 2 flush files — still a
    * multi-batch replay (every chain seals slots across ≥2 batch
    * boundaries, and the restart gate still splits mid-feed), at ~2
    * fewer micro-batches of fixed cost per gate. */
  private val TargetCells = 2

  /** Hourly slot index from a sealed slot_ts (matches the batch legs'
    * `unix_timestamp(ts) DIV 3600`). */
  private def hourSlot(c: org.apache.spark.sql.Column) =
    (unix_micros(c) / 3600000000L).cast("long")

  /** events with the q_ewma sampling filter, as (k, ts, v) rows. */
  private def sampledEvents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .filter(pmod(col("event_id"), lit(13)) === 0)
      .select(col("event_type").as("k"), col("ts"),
        col("value").cast("double").as("v"))

  private val DayUs = 86400000000L

  /** Two flush rows one/two days past the data's max event time —
    * DERIVED from the data (a hard-coded date would sit below max
    * event time on a larger-span fixture and never advance the
    * watermark): +1 day clears every slot end + the 1-hour lateness,
    * the second row makes the first's watermark effect land in a real
    * batch. Each carries its replay sequence (past the last grid cell). */
  private def flushRows(s: SparkSession, k: Any, v: Any, maxUs: Long,
                        cellUs: Long): Seq[DataFrame] =
    Seq(1, 2).map(d => s.range(1).select(lit(k).as("k"),
      timestamp_micros(lit(maxUs + d * DayUs)).as("ts"), lit(v).as("v"),
      lit(maxUs / cellUs + d).as("__seq")))

  /** Write the (k, ts, v) frame as an adaptive-grid ordered feed plus two
    * past-the-end flush rows (`flushKey`, `flushValue`); return the feed
    * dir. ONE bounds agg + ONE write job total (guide §1.2). */
  private def buildFeed(s: SparkSession, rows: DataFrame, flushKey: Any,
                        flushValue: Any): String = {
    val feed = ReplayFeed.tmp("sc_feed")
    rows.persist() // feeds the bounds scan + the one seq-partitioned write
    try {
      // one bounds scan serves the grid AND the flush timestamps; the
      // single seq-partitioned write replaces the per-cell filter writes
      // and per-cell isEmpty probes
      val (cellUs, _, maxUs) =
        ReplayFeed.adaptiveCellBounds(rows, "ts", TargetCells)
      val all = rows.withColumn("__seq", ReplayFeed.cellSeq("ts", cellUs))
      ReplayFeed.writeSeqFeed(
        flushRows(s, flushKey, flushValue, maxUs, cellUs)
          .foldLeft(all)(_ unionByName _),
        feed)
    } finally { rows.unpersist(); () }
    feed
  }

  private val ktvSchema = StructType.fromDDL("k STRING, ts TIMESTAMP, v DOUBLE")

  /** Shared gate shape for the (key, slot_ts, …) chains over the
    * sampled hourly series: replay, seal, drop the flush key, rename to
    * the batch leg's columns. With `restart`, the replay is interrupted
    * by a real checkpoint restart (see [[ReplayRunner.run]]): the
    * chain's buffered unsealed slot rows and its sealed frontier (last
    * sealed slot + carried recurrence state) must survive the RocksDB
    * round-trip, or the post-restart recurrence visibly diverges from
    * the uninterrupted batch-leg oracle. */
  private def hourlyChainGate(s: SparkSession, dir: String,
                              op: DataFrame => Dataset[_],
                              outCols: Seq[org.apache.spark.sql.Column],
                              restart: Boolean = false): DataFrame = {
    val feed = buildFeed(s, sampledEvents(s, dir), "__flush", 0.0)
    ReplayRunner.run(s, keepNoDataBatches = false,
        restartFeed = Option.when(restart)(feed))(
        op(ReplayRunner.stream(s, ktvSchema, feed)))
      .filter(col("key") =!= "__flush")
      .select(col("key").as("event_type") +: hourSlot(col("slot_ts")).as("slot") +: outCols: _*)
      .orderBy(col("event_type"), col("slot"))
  }

  val defs: Map[String, Q] = Map(

    // §2.9 EWMA, streaming leg under the driver gate: sealed stream
    // points must equal the q_ewma batch recurrence bit for bit.
    "q_stream_ewma" -> { (s, dir) =>
      hourlyChainGate(s, dir,
        st => EwmaStream.smoothed(st, "k", "ts", "v", alpha = 0.25),
        Seq(col("v"), col("ewma")))
    },

    // VERDICT r13 task 3: the EWMA chain killed mid-feed and resumed
    // from its checkpoint (the q_trigger_restart device on a
    // transformWithState sealed chain). The recurrence is order-1 —
    // every sealed point depends on ALL its predecessors — so a lost
    // or double-applied slot after the restart shifts every subsequent
    // ewma value; the combined output must still equal the
    // uninterrupted q_ewma batch oracle bit for bit.
    "q_stream_ewma_restart" -> { (s, dir) =>
      hourlyChainGate(s, dir,
        st => EwmaStream.smoothed(st, "k", "ts", "v", alpha = 0.25),
        Seq(col("v"), col("ewma")), restart = true)
    },

    // §2.9 CUSUM drift detection, streaming leg: in-control targets are
    // the same exact per-type davg doubles the batch query derives.
    "q_stream_cusum" -> { (s, dir) =>
      import s.implicits._
      val targets = Tables(s, dir).events
        .filter(pmod(col("event_id"), lit(13)) === 0)
        .groupBy(col("event_type")).agg(davg(col("value")).as("t"))
        .as[(String, Double)].collect().toMap
      hourlyChainGate(s, dir,
        st => CusumStream.drifting(st, "k", "ts", "v", targets,
          slack = 0.5, threshold = 250.0),
        Seq(col("v"), col("cusum"), col("alarm")))
    },

    // §2.9 Holt linear trend, streaming leg (α=0.5, β=0.25).
    "q_stream_holt" -> { (s, dir) =>
      hourlyChainGate(s, dir,
        st => HoltStream.trending(st, "k", "ts", "v",
          alpha = 0.5, beta = 0.25),
        Seq(col("v"), col("level"), col("trend"), col("forecast")))
    },

    // §2.9 gap-fill (LOCF + linear interpolation), streaming leg: the
    // dense grid between sealed observations, identical to q_gapfill.
    "q_stream_gapfill" -> { (s, dir) =>
      hourlyChainGate(s, dir,
        st => GapFillStream.filled(st, "k", "ts", "v"),
        Seq(col("slot_ts"), col("v"), col("ffill"), col("interp")))
    },

    // §2.9 Holt-Winters additive, streaming leg — the one r10 VERDICT
    // called out by name. The batch leg smooths 4-hour slot SUMS, so
    // the feed is one row per (type, slot) carrying the exact
    // DECIMAL(18,4)-summed slot total (a 1-row slot's mean IS its sum);
    // the stream then warms up on the first 6 slots and recurses
    // exactly as q_holt_winters' recursive-CTE oracle replays.
    "q_stream_holt_winters" -> { (s, dir) =>
      val obs = Tables(s, dir).events
        .groupBy(col("event_type").as("k"),
          expr("unix_timestamp(ts) DIV 14400").as("slot"))
        .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("v"))
        .select(col("k"), to_timestamp(col("slot") * 14400).as("ts"), col("v"))
      val feed = buildFeed(s, obs, "__flush", 0.0)
      ReplayRunner.run(s, keepNoDataBatches = false)(HoltWintersStream.smoothing(
          ReplayRunner.stream(s, ktvSchema, feed), "k", "ts", "v", period = 6,
          slotDuration = java.time.Duration.ofHours(4)))
        .filter(col("key") =!= "__flush")
        .select(col("key").as("event_type"),
          (unix_micros(col("slot_ts")) / 14400000000L).cast("long").as("slot"),
          col("v").as("y"),
          round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("forecast"), 6).as("forecast"))
        .orderBy(col("event_type"), col("slot"))
    },

    // §2.9 ordered funnel, streaming leg: per-user step completions
    // (first event of each step type strictly after the previous step's
    // completion) — the per-user rows q_funnel's counts aggregate.
    "q_stream_funnel" -> { (s, dir) =>
      val rows = Tables(s, dir).events
        .select(col("user_id").cast("long").as("k"), col("ts"),
          col("event_type").as("v"))
      // flush rows must carry a STEP type (the internal filter drops
      // other types BEFORE the watermark node) under a reserved user
      val feed = buildFeed(s, rows, -1L, "view")
      ReplayRunner.run(s, keepNoDataBatches = false)(FunnelStream.stepCompletions(
          ReplayRunner.stream(s,
            StructType.fromDDL("k BIGINT, ts TIMESTAMP, v STRING"), feed),
          "k", "ts", "v", steps = Seq("view", "click", "purchase")))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("step").cast("long").as("step"),
          col("step_name"), col("ts"))
        .orderBy(col("user_id"), col("step"))
    },

    // §2.9 trailing-window rate anomaly, streaming leg: sealed hourly
    // flags over ALL events, identical to q_anomaly_rate's scored rows.
    "q_stream_rate_anomaly" -> { (s, dir) =>
      val rows = Tables(s, dir).events
        .select(col("event_type").as("k"), col("ts"), lit(0.0).as("v"))
      val feed = buildFeed(s, rows, "__flush", 0.0)
      ReplayRunner.run(s, keepNoDataBatches = false)(RateAnomalyStream.hourlyFlags(
          ReplayRunner.stream(s, ktvSchema, feed), "k", "ts"))
        .filter(col("event_type") =!= "__flush")
        .select(col("event_type"), col("hour"), col("n"),
          col("trail_sum"), col("trail_cnt"), col("spike_hi"), col("dip_lo"))
        .orderBy(col("event_type"), col("hour"))
    },
  )

  /** Oracles: the batch legs' green SQL, reused verbatim — the stream
    * gates emit the identical column set. q_stream_funnel's oracle is
    * the per-user row form of q_funnel's step CTEs. */
  val oracles: Map[String, String] = Map(
    "q_stream_ewma" -> AnalyticsQueries.oracles("q_ewma"),
    // the restart gate's claim is oracle invariance — q_ewma verbatim
    "q_stream_ewma_restart" -> AnalyticsQueries.oracles("q_ewma"),
    "q_stream_cusum" -> WarehouseQueries.oracles("q_cusum"),
    "q_stream_holt" -> WarehouseQueries.oracles("q_holt_trend"),
    "q_stream_gapfill" -> AnalyticsQueries.oracles("q_gapfill"),
    "q_stream_holt_winters" -> WarehouseQueries.oracles("q_holt_winters"),
    "q_stream_rate_anomaly" -> WindowQueries.oracles("q_anomaly_rate"),
    "q_stream_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
         SELECT user_id, CAST(1 AS BIGINT) AS step, 'view' AS step_name, t1 AS ts FROM v
         UNION ALL
         SELECT user_id, CAST(2 AS BIGINT), 'click', t2 FROM c
         UNION ALL
         SELECT user_id, CAST(3 AS BIGINT), 'purchase', t3 FROM p
         ORDER BY user_id, step""",
  )
}
