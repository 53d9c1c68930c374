package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.TriggerGateQueries.{NSumFn, paneInput, paneTable}
import graft.streaming.SessionEngine
import graft.streaming.SessionEngine.MergingWindowAssigner
import graft.streaming.TriggerEngine.Accumulating

/** Driver gates for the merging-window engine (VERDICT r11 task 1 — core
  * row 40, the last oracle-reachable spec-only row): run
  * [[SessionEngine.sessionAggregateWith]] with a CUSTOM
  * `MergingWindowAssigner` (per-row dynamic gap — a function of both the
  * key and the value, which Beam expresses only as a user-defined merging
  * WindowFn) as a REAL AvailableNow streaming query over the ordered file
  * replay, and emit the merged session pane table for DuckDB to replay
  * with gaps-and-islands SQL.
  *
  * Determinism device (same family as [[TriggerGateQueries]]):
  *  - the feed is the events table cut on an epoch-aligned day grid
  *    SIZED FROM THE DATA SPAN (≤ ~9 micro-batches at any sf — the
  *    replay-cost contract of VERDICT r11 task 4), one single-file
  *    parquet per populated cell in time order, then two far-future
  *    flush rows (key `__flush`, filtered from the output) that push the
  *    watermark past every session end so all ON_TIME panes and GC land
  *    inside real batches;
  *  - because every interval starts at its row's timestamp and the cells
  *    replay in time order, a later row can never bridge two
  *    already-disjoint open sessions (bridging needs ts < the left
  *    session's end ≤ the right session's start ≤ ts — a contradiction),
  *    so at the end of any batch each final session's absorbed prefix is
  *    EXACTLY ONE open session: the final session table equals global
  *    gaps-and-islands over the fixture, independent of the batch grid;
  *  - a prefix's end always exceeds the next session row's timestamp
  *    (strict-overlap membership) which bounds the watermark from above,
  *    so no session can close before its last row arrives;
  *  - pane VALUES are commutative (count + Σ user_id), and within-batch
  *    absorb order only changes the transient merge tree, not the merged
  *    accumulator (the CombineFn is associative-commutative).
  *
  * The engine works in MILLISECONDS (java.sql.Timestamp.getTime), so the
  * oracle truncates the fixture's microsecond timestamps with
  * `epoch_us(ts) // 1000` and scales session bounds back by ×1000.
  */
object SessionGateQueries {

  type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** The custom merging WindowFn under test: per-row dynamic gap
    * (15 + len(key) + value mod 10) minutes — key- AND value-dependent,
    * beyond fixed-gap Sessions (and beyond Spark's session_window gap
    * column only in that the engine also exposes pane metadata and early
    * firings over it). Mirrored literally in the oracle SQL. */
  private final case class DynGapAssigner() extends MergingWindowAssigner[String, Long] {
    def assign(key: String, tsMs: Long, value: Long): (Long, Long) =
      (tsMs, tsMs + (15L + key.length + (value % 10L)) * 60000L)
  }

  /** Events → ordered feed: populated day-grid cells sized so the replay
    * is ≤ ~9 micro-batches at any sf (cellDays = ceil(spanDays/8)), then
    * two flush rows a day apart beyond max ts + the max possible gap. */
  /** `targetCells`: q_session_engine_early's oracle replays the 8-cell
    * grid (one EARLY pane per populated cell — `+ 8) // 8` in its SQL),
    * so it stays at 8; q_session_engine / q_session_restart emit only
    * the grid-INVARIANT final session table (global gaps-and-islands),
    * so their replay runs on a coarser 4-cell grid — the batch count is
    * pure replay cost there (guide §1.2; VERDICT r14 "coarser feed grid
    * where the oracle does not replay batch boundaries"). Sessions still
    * straddle every cell boundary at any sf (mean event gaps ≪ the
    * dynamic session gap ≪ a grid cell), so cross-batch merging and the
    * mid-feed restart stay genuinely exercised. */
  private def buildSessionFeed(s: SparkSession, dir: String,
                               targetCells: Int): String = {
    import ReplayFeed.{tmp, writeSeqFeed}
    val feed = tmp("sess_feed")
    val ev = Tables(s, dir).events.select(
      col("event_type").as("k"), col("ts"),
      col("user_id").cast("long").as("v"))
    ev.persist() // feeds the bounds scan + the one seq-partitioned write
    // the adaptive grid (cellDays = ceil(spanDays/targetCells)); the
    // early-pane oracle recomputes the identical integer arithmetic.
    // ONE bounds scan yields grid + hi; ONE seq-partitioned write
    // replaces the per-cell filter writes and isEmpty probes.
    val (cellUs, _, hiUs) = ReplayFeed.adaptiveCellBounds(ev, "ts", targetCells)
    // max gap is (15 + keyLen + 9) minutes << 1 day, so hi + 1 day clears
    // every session end and hi + 2 days makes that watermark land in a
    // real batch
    def flush(us: Long, d: Long) = s.range(1).select(
      lit("__flush").as("k"), timestamp_micros(lit(us)).as("ts"),
      lit(0L).as("v"), lit(hiUs / cellUs + d).as("__seq"))
    val all = ev.withColumn("__seq", ReplayFeed.cellSeq("ts", cellUs))
      .unionByName(flush(hiUs + DayUs, 1)).unionByName(flush(hiUs + 2 * DayUs, 2))
    try writeSeqFeed(all, feed)
    finally { ev.unpersist(); () }
    feed
  }

  /** Feed for the LATE-firings gate (VERDICT r12 task 5): the full main
    * replay plus a held-out LATE file of DUPLICATE rows — copies of
    * every event_id%7=0 row of islands that SEAL strictly before the
    * late file's position — replayed after `a = max(2, 3m/5)` of the m
    * populated cells with allowedLateness spanning the whole feed.
    *
    * Why duplicates: a copy's interval is identical to its original's,
    * so it merges into the SAME island without extending bounds or
    * bridging islands — the final session table stays global
    * gaps-and-islands over the events table, and the late rows' only
    * observable effect is the LATE pane arithmetic (+nd, +sd), which the
    * oracle replays exactly. Why sealed-strictly-before islands only
    * (se ≤ max ms of cells 0..a−2, the watermark at the last pre-late
    * batch's TIMER phase — input precedes timers, so an island sealing
    * IN the late batch would absorb its dups into the ON_TIME pane):
    * every dup is guaranteed to hit a FIRED session, firing a LATE pane
    * that re-opens the accumulator — the one merging-window case
    * q_session_engine_early does not cover. Fails fast when no sealed
    * island carries a %7 row (the ADVICE r12 dead-branch rule). */
  private def buildLateSessionFeed(s: SparkSession, dir: String): (String, Long) = {
    import ReplayFeed.{tmp, writeSeqFeed}
    import org.apache.spark.sql.expressions.Window
    val feed = tmp("sesslate_feed")
    val ev = Tables(s, dir).events.select(
        col("event_type").as("k"), col("ts"),
        col("user_id").cast("long").as("v"), col("event_id"))
      .withColumn("ms", (unix_micros(col("ts")) / 1000).cast("long"))
      // the same dynamic-gap interval as DynGapAssigner / the oracle
      .withColumn("iend", col("ms") +
        (lit(15L) + length(col("k")) + pmod(col("v"), lit(10L))) * 60000L)
    ev.persist() // bounds + cells + islands + one filter per cell
    try {
      // one bounds scan yields grid + lo/hi (was two separate aggs)
      val (cellUs, loUs, hiUs) = ReplayFeed.adaptiveCellBounds(ev, "ts", 8)
      val cell = (unix_micros(col("ts")) / cellUs).cast("long")
      val cells = ev.select(cell.as("c")).distinct().orderBy(col("c"))
        .collect().map(_.getLong(0))
      val m = cells.length
      require(m >= 3, s"events span too short for the late-session gate ($m cells)")
      val a = math.max(2, 3 * m / 5)
      val wprevMs = ev.filter(cell <= cells(a - 2))
        .agg(max(col("ms"))).head().getLong(0)
      // gaps-and-islands (the oracle's islandsCte, in Spark): sealed
      // islands are those whose end the pre-late watermark passed
      val w = Window.partitionBy(col("k")).orderBy(col("ms"), col("v"))
      val isl = ev
        .withColumn("prev_end", max(col("iend"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("sid", sum(when(col("prev_end").isNull ||
            col("ms") >= col("prev_end"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sealedIslands = isl.groupBy(col("k"), col("sid"))
        .agg(max(col("iend")).as("se"))
        .filter(col("se") <= wprevMs)
        .select(col("k").as("k2"), col("sid").as("sid2"))
      val dups = isl
        .join(sealedIslands, col("k") === col("k2") && col("sid") === col("sid2"))
        .filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("k"), col("ts"), col("v"))
      require(!dups.isEmpty,
        "late-session gate: no sealed island carries an event_id%7=0 row " +
          "— the LATE-pane path would go dead while the gate stayed green")
      // lateness spans the whole feed: Spark's watermark filter then
      // passes every dup at the late batch, and fired sessions are
      // retained (GC at end + lateness lands only in the flush batches)
      val latenessUs = (hiUs - loUs) + DayUs
      // replay-sequence encoding (one write job): mains at 2·cell, the
      // duplicate late file at 2·cells(a−1)+1 — right after the a-th
      // populated cell, where the ordered Seq used to splice it — and
      // the flush rows past 2·lastCell
      def flush(us: Long, seq: Long) = s.range(1).select(
        lit("__flush").as("k"), timestamp_micros(lit(us)).as("ts"),
        lit(0L).as("v"), lit(seq).as("__seq"))
      val all = ev.select(col("k"), col("ts"), col("v"))
        .withColumn("__seq", ReplayFeed.cellSeq("ts", cellUs) * 2)
        .unionByName(dups.withColumn("__seq", lit(2 * cells(a - 1) + 1)))
        .unionByName(flush(hiUs + latenessUs + DayUs, 2 * cells.last + 2))
        .unionByName(flush(hiUs + latenessUs + 2 * DayUs, 2 * cells.last + 3))
      writeSeqFeed(all, feed)
      (feed, latenessUs / 1000)
    } finally { ev.unpersist(); () }
  }

  /** (distinct keys, total sessions) of the fixture, by the same
    * gaps-and-islands arithmetic as the oracle — the inputs to the
    * session-engine state budgets (VERDICT r13 task 6). One window pass
    * partitioned by the key column (5 keys at the fixtures; never an
    * unpartitioned window). */
  private def sessionStats(s: SparkSession, dir: String): (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir).events.select(
        col("event_type").as("k"),
        (unix_micros(col("ts")) / 1000).cast("long").as("ms"),
        col("user_id").cast("long").as("v"))
      .withColumn("iend", col("ms") +
        (lit(15L) + length(col("k")) + pmod(col("v"), lit(10L))) * 60000L)
    val w = Window.partitionBy(col("k")).orderBy(col("ms"), col("v"))
    val r = ev
      .withColumn("prev_end", max(col("iend"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_s", when(col("prev_end").isNull ||
        col("ms") >= col("prev_end"), 1L).otherwise(0L))
      .agg(count_distinct(col("k")).as("nk"), sum(col("new_s")).as("ns"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Inline state budget for the session engine (VERDICT r13 task 6 —
    * the ListState open-session blobs are the costliest state class,
    * and before this only q_trigger_panes enforced a budget inline):
    *
    *  - state ROWS ∝ keys, never sessions or rows seen — the engine
    *    keeps ONE ListState row per key plus at most one timer row
    *    (measured 5–6 at every fixture scale; budget 2 × (keys + the
    *    __flush key) has 2× headroom);
    *  - state BYTES ∝ open/retained sessions × a constant-size
    *    session blob — budget 128 KiB of RocksDB floor + 4 KiB per
    *    session the fixture can possibly hold open at once (total
    *    session count bounds peak open sessions from above; measured
    *    peaks sit 4×+ under it at every scale).
    *
    * An accumulator that grew with data volume — the 100 TB failure
    * mode — blows through the byte budget at the bench fixture; a
    * per-session or per-row STATE ROW leak trips the row budget
    * immediately. A breach fails the driver CORRECTNESS row, not just
    * the STATE.md audit. */
  private def sessionBudget(nKeys: Long, nSessions: Long): StateMetrics.Peak => Unit = { p =>
    val rowBudget = (nKeys + 1L) * 2L
    require(p.peakRows <= rowBudget,
      s"session-engine state-row budget exceeded: peak ${p.peakRows} rows " +
        s"> budget $rowBudget (2 × (${nKeys} keys + flush)) — state rows " +
        "are growing with sessions or data, not with keys")
    // CHANGELOG-mode accounting (recalibrated in r15 — VERDICT r14 item
    // 3): without the per-commit snapshot flush, RocksDB's
    // memoryUsedBytes reports the unflushed memtable arena, which
    // allocates in ~3.2 MiB blocks — measured floor 3.17–3.25 MiB at
    // every sf, plus ~1 KiB per retained session write (6.33 MiB at
    // sf0.01's 3124 retained sessions). Budget: 8 MiB arena floor +
    // the same 4 KiB/session term (2.5–3.6× headroom at sf0.001/0.01/
    // 0.1). The leak-catch property survives: a blob that grew with
    // ROWS SEEN adds ≥ rows × tens of bytes of memtable writes (≈5 MiB
    // at the 105k-row bench fixture) and trips the budget, and the
    // (unchanged, sharp) row budget above catches any per-row or
    // per-session STATE ROW leak immediately.
    val byteBudget = (8L << 20) + nSessions * 4096L
    require(p.peakMemBytes <= byteBudget,
      s"session-engine state-byte budget exceeded: peak ${p.peakMemBytes} B " +
        s"> budget $byteBudget (8 MiB arena floor + $nSessions sessions × " +
        "4 KiB) — session blobs are growing with rows seen, not with open " +
        "sessions")
  }

  val defs: Map[String, Q] = Map(

    // §2.4 row 40 under the driver gate: the merging-window engine with a
    // custom key+value-dependent gap assigner, ON_TIME panes only — each
    // merged session fires exactly once when the watermark passes its
    // end, pane_index 0, isFirst = isLast = true.
    "q_session_engine" -> { (s, dir) =>
      import s.implicits._
      val feed = buildSessionFeed(s, dir, targetCells = 4)
      paneTable(ReplayRunner.run(s)(SessionEngine.sessionAggregateWith(
        paneInput(s, feed), DynGapAssigner(), java.time.Duration.ZERO,
        earlyPerBatch = false, Accumulating, NSumFn)))
    },

    // SURVEY §7 hard part 4: merging windows × EARLY firings — the
    // interaction Spark's session_window DSL cannot express. Accumulating
    // mode: every micro-batch that feeds a still-open session fires an
    // EARLY pane with the running (n, Σv); the ON_TIME pane repeats the
    // sealed total with pane_index = the session's populated-cell count.
    "q_session_engine_early" -> { (s, dir) =>
      import s.implicits._
      val feed = buildSessionFeed(s, dir, targetCells = 8)
      paneTable(ReplayRunner.run(s)(SessionEngine.sessionAggregateWith(
        paneInput(s, feed), DynGapAssigner(), java.time.Duration.ZERO,
        earlyPerBatch = true, Accumulating, NSumFn)))
    },

    // Checkpoint-restart durability for the MERGING engine (the
    // q_trigger_restart device applied to ListState): the
    // q_session_engine run is stopped after draining the feed's first
    // half and a new query resumes from the checkpoint — every open
    // session's interval bounds and merged accumulator must survive the
    // kryo/RocksDB round-trip or the sealed session table diverges from
    // the gaps-and-islands oracle (shared verbatim with
    // q_session_engine).
    "q_session_restart" -> { (s, dir) =>
      import s.implicits._
      val feed = buildSessionFeed(s, dir, targetCells = 4)
      val (nKeys, nSessions) = sessionStats(s, dir)
      paneTable(ReplayRunner.run(s, restartFeed = Some(feed),
          onPeak = Some(sessionBudget(nKeys, nSessions)))(
        SessionEngine.sessionAggregateWith(
          paneInput(s, feed), DynGapAssigner(), java.time.Duration.ZERO,
          earlyPerBatch = false, Accumulating, NSumFn)))
    },

    // VERDICT r12 task 5: merging windows × LATE firings — held-out
    // duplicate rows arrive AFTER their merged session sealed (ON_TIME
    // fired) but within allowed lateness, merge back into the retained
    // session state, and fire a LATE pane with the extended accumulator.
    // ON_TIME panes carry the main totals at idx 0; each dup-receiving
    // session adds a LATE pane at idx 1 with the +dup totals; no pane is
    // last (the GC moment emits nothing when every late row already
    // fired). See [[buildLateSessionFeed]] for the determinism device.
    "q_session_engine_late" -> { (s, dir) =>
      import s.implicits._
      val (feed, latenessMs) = buildLateSessionFeed(s, dir)
      // lateness spans the whole feed here, so EVERY fired session is
      // retained until the flush batches — the total session count IS
      // the retained-state ceiling the byte budget scales with
      val (nKeys, nSessions) = sessionStats(s, dir)
      paneTable(ReplayRunner.run(s,
          onPeak = Some(sessionBudget(nKeys, nSessions)))(
        SessionEngine.sessionAggregateWith(
          paneInput(s, feed), DynGapAssigner(),
          java.time.Duration.ofMillis(latenessMs),
          earlyPerBatch = false, Accumulating, NSumFn, latePerBatch = true)))
    },
  )

  /** Gaps-and-islands prelude shared by both oracles: per-row dynamic
    * interval [ms, ms + gap), running max end over the key's earlier
    * rows, strict-overlap island flag (a row exactly AT the running end
    * starts a new session — half-open intervals), island ids by running
    * sum. The ORDER BY ends in event_id (unique), making the sort a
    * TOTAL order: island membership is tie-invariant (equal-ms rows
    * always merge), but the flag window and the running-sum window are
    * two separate evaluations, and an engine whose parallel sort orders
    * ties differently between the passes would mint phantom islands
    * (the q_scd2 class of flake, r14). */
  private val islandsCte =
    """WITH ev AS (
         SELECT event_type AS k, epoch_us(ts) // 1000 AS ms, user_id AS v,
           epoch_us(ts) AS us, event_id,
           epoch_us(ts) // 1000
             + (15 + length(event_type) + (user_id % 10)) * 60000 AS iend
         FROM events),
       w AS (
         SELECT k, ms, v, us, event_id, iend,
           max(iend) OVER (PARTITION BY k ORDER BY ms, v, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         FROM ev),
       isl AS (
         SELECT k, ms, v, us, event_id, iend,
           SUM(CASE WHEN prev_end IS NULL OR ms >= prev_end THEN 1 ELSE 0 END)
             OVER (PARTITION BY k ORDER BY ms, v, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM w),
       sess AS (
         SELECT k, sid, min(ms) AS ss, max(iend) AS se,
           count(*) AS n, sum(v) AS sum_v
         FROM isl GROUP BY k, sid)"""

  /** One ON_TIME pane per merged session — shared by q_session_engine
    * and q_session_restart (the restart gate's claim is that a mid-feed
    * checkpoint restart changes nothing). */
  private val sessionOracle: String =
    s"""$islandsCte
       SELECT k, CAST(ss * 1000 AS BIGINT) AS ws_us,
         CAST(se * 1000 AS BIGINT) AS we_us,
         'ON_TIME' AS timing, CAST(0 AS BIGINT) AS pane_index,
         TRUE AS is_first, TRUE AS is_last,
         CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v
       FROM sess ORDER BY k, ws_us, pane_index"""

  val oracles: Map[String, String] = Map(

    "q_session_engine" -> sessionOracle,
    "q_session_restart" -> sessionOracle,

    // EARLY panes replay the batch grid: cell size derives from the data
    // span with the same integer arithmetic as the feed builder; one
    // EARLY pane per (session, populated cell) carrying the cumulative
    // (n, Σv) through that cell; the ON_TIME pane repeats the total at
    // pane_index = populated-cell count.
    "q_session_engine_early" ->
      s"""$islandsCte,
         bounds AS (
           SELECT ((max(us) // $DayUs) - (min(us) // $DayUs) + 8) // 8
             * $DayUs AS cell_us
           FROM ev),
         bc AS (
           SELECT k, sid, us // (SELECT cell_us FROM bounds) AS cell,
             count(*) AS cn, sum(v) AS cs, max(iend) AS ce
           FROM isl GROUP BY 1, 2, 3),
         cum AS (
           SELECT k, sid, cell,
             SUM(cn) OVER win AS n_cum, SUM(cs) OVER win AS s_cum,
             MAX(ce) OVER win AS e_cum,
             ROW_NUMBER() OVER (PARTITION BY k, sid ORDER BY cell) - 1 AS idx
           FROM bc
           WINDOW win AS (PARTITION BY k, sid ORDER BY cell
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         ncell AS (
           SELECT k, sid, count(*) AS ncells FROM bc GROUP BY k, sid),
         -- an EARLY pane reports the OPEN session's end as of its batch
         -- (the cumulative max interval end), not the final end
         panes AS (
           SELECT c.k, c.sid, 'EARLY' AS timing, c.idx,
             c.idx = 0 AS is_first, FALSE AS is_last,
             c.n_cum AS n, c.s_cum AS sum_v, c.e_cum AS we_ms
           FROM cum c
           UNION ALL
           SELECT s.k, s.sid, 'ON_TIME', nc.ncells, FALSE, TRUE,
             s.n, s.sum_v, s.se
           FROM sess s JOIN ncell nc ON s.k = nc.k AND s.sid = nc.sid)
         SELECT p.k, CAST(s.ss * 1000 AS BIGINT) AS ws_us,
           CAST(p.we_ms * 1000 AS BIGINT) AS we_us,
           p.timing, CAST(p.idx AS BIGINT) AS pane_index,
           p.is_first, p.is_last,
           CAST(p.n AS BIGINT) AS n, CAST(p.sum_v AS BIGINT) AS sum_v
         FROM panes p JOIN sess s ON p.k = s.k AND p.sid = s.sid
         ORDER BY p.k, ws_us, pane_index""",

    // LATE firings: the feed builder's arithmetic replayed — populated
    // cells on the adaptive grid, the late position a = max(2, 3m/5),
    // the pre-late TIMER watermark wprev = max ms of cells 0..a−2,
    // sealed islands (se ≤ wprev), and their event_id%7=0 rows as the
    // duplicate late slice. Every island fires ON_TIME with its main
    // totals at idx 0; every dup-receiving island adds a LATE pane at
    // idx 1 carrying main + dup totals. Bounds are unchanged by the
    // dups (identical intervals), and no pane is last.
    "q_session_engine_late" ->
      s"""$islandsCte,
         bounds AS (
           SELECT ((max(us) // $DayUs) - (min(us) // $DayUs) + 8) // 8
             * $DayUs AS cell_us
           FROM ev),
         cells AS (
           SELECT DISTINCT us // (SELECT cell_us FROM bounds) AS cell FROM ev),
         rk AS (
           SELECT cell, row_number() OVER (ORDER BY cell) AS rn,
             count(*) OVER () AS m
           FROM cells),
         cut AS (
           SELECT cell AS cutoff FROM rk
           WHERE rn = greatest(2, 3 * m // 5) - 1),
         wprev AS (
           SELECT max(ms) AS wp FROM ev
           WHERE us // (SELECT cell_us FROM bounds) <= (SELECT cutoff FROM cut)),
         sealed AS (
           SELECT s.k, s.sid FROM sess s
           WHERE s.se <= (SELECT wp FROM wprev)),
         dups AS (
           SELECT i.k, i.sid, count(*) AS nd, sum(i.v) AS sd
           FROM isl i JOIN sealed x ON i.k = x.k AND i.sid = x.sid
           WHERE i.event_id % 7 = 0
           GROUP BY i.k, i.sid),
         panes AS (
           SELECT s.k, s.sid, 'ON_TIME' AS timing, 0 AS idx,
             TRUE AS is_first, s.n, s.sum_v, s.ss, s.se
           FROM sess s
           UNION ALL
           SELECT s.k, s.sid, 'LATE', 1, FALSE,
             s.n + d.nd, s.sum_v + d.sd, s.ss, s.se
           FROM sess s JOIN dups d ON s.k = d.k AND s.sid = d.sid)
         SELECT k, CAST(ss * 1000 AS BIGINT) AS ws_us,
           CAST(se * 1000 AS BIGINT) AS we_us,
           timing, CAST(idx AS BIGINT) AS pane_index,
           is_first, FALSE AS is_last,
           CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v
         FROM panes ORDER BY k, ws_us, pane_index""",
  )
}
