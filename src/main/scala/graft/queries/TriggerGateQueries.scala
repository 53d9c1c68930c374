package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.Combine.CombineFn
import graft.streaming.TriggerEngine
import graft.streaming.TriggerEngine._

/** Driver gates for the trigger/pane engine (VERDICT r10 task 1): run
  * [[TriggerEngine.windowedAggregate]] as a REAL streaming query over a
  * deterministic ordered file replay of the events table and emit the
  * full pane table (key, window, pane_index, timing, isFirst/isLast,
  * value) — the columns Spark's own windowed aggregation cannot produce
  * — for DuckDB to replay relationally.
  *
  * Determinism device: the feed directory holds ONE parquet file per
  * intended micro-batch (strictly increasing modification times +
  * `maxFilesPerTrigger=1`), each covering one epoch-aligned 5-day
  * half-window of the 10-day tumbling windows. Because
  *  - pane VALUES are commutative (count + Σ user_id), row order inside
  *    a batch is irrelevant;
  *  - pane BOUNDARIES depend only on per-(key, window) PER-BATCH row
  *    counts and the watermark sequence, and Spark's watermark for batch
  *    k is max(event time) over batches < k, which the time-ordered file
  *    grid fixes exactly;
  * the emitted pane table is a pure function of the fixture — replayable
  * in SQL from epoch arithmetic alone (no engine state in the oracle).
  *
  * Shared geometry (all four gates), ADAPTIVE in the data span
  * (VERDICT r11 task 4 — a fixed grid made gate cost scale with the
  * stream's TIME span): the half-window cell is the smallest whole-day
  * size covering the span in ≤ ~8 cells (cellDays = ceil(spanDays/8) —
  * 4 days at the 31-day fixtures, 39 at the 310-day sf1 growth cut),
  * windows are 2 cells, allowed lateness 12/5 cells (the former
  * 12-days-per-10-day-window ratio). Main files cover the populated
  * cells in order; the held-out late slice is the last fifth of the
  * first window's second cell (∩ event_id%17=0), replayed two cells
  * after that window seals — inside lateness; then two far-future flush
  * rows (key `__flush`, filtered from the output) push the watermark
  * past every window end + lateness so ON_TIME/FINAL panes and state GC
  * all land inside real batches — no reliance on the trailing no-data
  * micro-batch. The oracle recomputes the identical grid arithmetic in
  * its `grid` CTE.
  */
object TriggerGateQueries {

  type Q = (SparkSession, String) => DataFrame

  private[queries] val DayUs = 86400000000L

  /** The adaptive half-window cell: smallest whole-day size covering
    * the events span in ≤ ~8 cells. Windows are 2 cells; lateness is
    * 12/5 cells. One bounds scan; the oracle's `grid` CTE recomputes
    * the identical integer arithmetic. */
  private[queries] def gridCellUs(s: SparkSession, dir: String): Long =
    ReplayFeed.adaptiveCellUs(Tables(s, dir).events, "ts", 8)

  /** Everything a trigger gate derives from the events table, computed
    * off ONE persisted projection (a gate otherwise pays three separate
    * parquet scans: grid bounds, threshold stats, feed bounds): the
    * adaptive cell size, the half-cell count stats (lower median, p80),
    * and the ordered feed directory. */
  private[queries] final case class GateSetup(feed: String, cellUs: Long,
                                              med: Long, p80: Long,
                                              nKeys: Int)

  /** Count + exact integer sum — the pane value CombineFn. Both fields
    * are order-invariant, so pane values cannot depend on row order
    * within a micro-batch. */
  private[queries] object NSumFn extends CombineFn[Long, (Long, Long), (Long, Long)] {
    def createAccumulator(): (Long, Long) = (0L, 0L)
    def addInput(acc: (Long, Long), in: Long): (Long, Long) =
      (acc._1 + 1L, acc._2 + in)
    def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def extractOutput(acc: (Long, Long)): (Long, Long) = acc
  }

  import ReplayFeed.{tmp, writeSeqFeed}

  /** Lower median of per-(key, half-cell) row counts — the
    * data-derived base for every trigger threshold (VERDICT r11 tasks
    * 2+5): thresholds scale with fixture density, so the gates exercise
    * BOTH composite branches (immediate-fire vs wait-for-cumulative) at
    * any sf instead of going dead on a thin fixture. Lower median =
    * rank-(m+1)/2 VALUE selection (never interpolated — engine-stable).
    * Bounded collect: one count per (key, half-cell) — keys × span/5d
    * rows, dozens at any sf. The oracle prelude recomputes the identical
    * integer arithmetic in SQL (hc/medv/th CTEs). */
  /** (lower median, rank-ceil(0.8·m) value) of the half-cell counts —
    * the SPEC-side re-derivation (TriggerThresholdSpec); the gates
    * themselves derive the same stats inside [[setupFeed]]'s single
    * persisted scan. The p80 backs the composite gate's `until` threshold: a fixed
    * multiple of the median goes dead when counts concentrate (denser
    * sfs), while a rank-selected p80 guarantees ~20% of half-cells
    * exceed it at ANY sf — both OrFinally branches always fire. */
  private[queries] def halfCountStats(s: SparkSession, dir: String,
                                      cellUs: Long): (Long, Long) = {
    val counts = Tables(s, dir).events
      .groupBy(col("event_type"),
        (unix_micros(col("ts")) / cellUs).cast("long").as("cell"))
      .count().select(col("count")).orderBy(col("count"))
      .collect().map(_.getLong(0))
    val m = counts.length
    (counts((m - 1) / 2), counts((4 * m + 4) / 5 - 1))
  }

  /** The shared gate setup, ONE persisted scan: (k, ts, v = user_id)
    * rows of the events table, the adaptive cell size from their span,
    * the half-cell threshold stats, and the ordered feed cut on the
    * grid (one chunk per POPULATED grid cell, in time order). With
    * `holdOutLate`, the last fifth of the FIRST window's second cell
    * (∩ event_id%17=0) is excluded from its natural chunk and appended
    * as a dedicated late file positioned after the first populated cell
    * in (c1, c1+2] — trueWm there is past the first window's end
    * (sealed) but within the 2.4-cell lateness; fails fast when the
    * span is too short for that geometry instead of silently emitting
    * EARLY panes for the held-out rows. */
  private def setupFeed(s: SparkSession, dir: String,
                        holdOutLate: Boolean): GateSetup = {
    val feed = tmp("tg_feed")
    val ev = Tables(s, dir).events.select(
      col("event_type").as("k"), col("ts"),
      col("user_id").cast("long").as("v"),
      col("event_id"))
    ev.persist() // feeds the grid/stats/bounds aggs + one filter per cell
    try {
      // one bounds scan: the grid cell AND the flush base (maxUs) — the
      // separate max-ts agg this setup used to pay is folded in
      val (cellUs, _, maxUs) = ReplayFeed.adaptiveCellBounds(ev, "ts", 8)
      val winUs = 2 * cellUs
      val half = (unix_micros(col("ts")) / cellUs).cast("long")
      // per-(key, cell) counts: the threshold stats AND the populated-
      // cell list come from this one bounded frame
      val kc = ev.groupBy(col("k"), half.as("cell")).count()
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val nKeys = kc.map(_._1).distinct.length
      val counts = kc.map(_._3).sorted
      val m = counts.length
      val (med, p80) = (counts((m - 1) / 2), counts((4 * m + 4) / 5 - 1))
      val cells = kc.map(_._2).distinct.sorted
      // the first window's second cell; its last fifth is the late slice
      val c1 = (cells.head / 2) * 2 + 1
      val lateCond = half === c1 &&
        pmod(unix_micros(col("ts")), lit(cellUs)) >= lit(cellUs * 4 / 5) &&
        pmod(col("event_id"), lit(17)) === 0
      // the late file replays after the SECOND populated cell in
      // (c1, c1+2]. Two cells past the window, not one: the ON_TIME
      // timer fires during the batch whose watermark (= max ts of PRIOR
      // batches) has passed the window end — that needs one populated
      // cell past c1 already REPLAYED BEFORE the firing batch. Late rows
      // arriving in the firing batch itself would precede the timer
      // (input is processed before timers) and be absorbed into the
      // ON_TIME pane instead of firing LATE. The second cell is also the
      // lateness ceiling: trueWm at the late batch ≤ end of cell c1+2 =
      // window end + 2 cells < the 2.4-cell lateness. Derived from the
      // populated-cell list, so an empty early cell cannot silently
      // shift the replay position — a too-short span fails fast instead.
      val lateAfter =
        if (!holdOutLate) 0
        else {
          val after = cells.filter(c => c > c1 && c <= c1 + 2)
          require(after.length >= 2,
            s"events span too short for the late-holdout replay: need two " +
              s"populated cells in (${c1}, ${c1 + 2}] on the " +
              s"${cellUs / DayUs}-day grid, found ${after.length}")
          cells.count(_ <= after(1))
        }
      // replay-sequence encoding for the ONE-JOB feed write: a main row
      // replays at 2·cell; the held-out late slice at 2·after(1)+1 —
      // immediately after the second populated cell in (c1, c1+2],
      // exactly where the ordered Seq used to splice it; flush rows past
      // 2·lastCell. The file ORDER is identical to the former
      // mains.take(lateAfter) ++ late ++ mains.drop(lateAfter) ++ flush.
      val mainSeq = half * 2
      val seqExpr =
        if (holdOutLate) when(lateCond, lit(2 * cells(lateAfter - 1) + 1))
          .otherwise(mainSeq)
        else mainSeq
      if (holdOutLate) {
        // the held-out slice (cell c1's last fifth ∩ event_id%17=0) can
        // silently be EMPTY at some fixture (unpopulated c1, dead
        // intersection) — the gate and oracle would stay consistently
        // green while the LATE-pane path went unexercised (ADVICE r12).
        // One cheap action on the persisted frame pins it non-empty.
        require(!ev.filter(lateCond).isEmpty,
          s"late-holdout slice is empty at this fixture (cell c1=$c1 on " +
            s"the ${cellUs / DayUs}-day grid): the LATE-pane path would " +
            "go dead while the gate stayed green — fix the slice geometry")
      }
      // flush timestamps DERIVE from the data like the grid bounds (a
      // hard-coded date would sit below max event time on a larger-span
      // fixture and never advance the watermark): the first flush must
      // push trueWm past the LAST window's end + the worst-case
      // 2.4-cell lateness so every ON_TIME/FINAL pane and GC lands in a
      // real batch; the second makes the first's watermark effect land
      // in a real batch too.
      // +2 windows, not +1: the SLIDING gate's last window starts at
      // the last populated CELL and ends a full window after it, past
      // the aligned tumbling end; the extra margin only moves the flush
      // timestamps later, which no oracle depends on
      val lastWEnd = (maxUs / winUs + 2) * winUs
      val latenessUs = cellUs * 12 / 5
      def flush(us: Long, seq: Long) = s.range(1).select(
        lit("__flush").as("k"), timestamp_micros(lit(us)).as("ts"),
        lit(0L).as("v"), lit(seq).as("__seq"))
      val flushSeq = 2 * cells.last + 2
      val main = ev.select(col("k"), col("ts"), col("v"), seqExpr.as("__seq"))
      writeSeqFeed(
        main.unionByName(flush(lastWEnd + latenessUs + DayUs, flushSeq))
          .unionByName(flush(lastWEnd + latenessUs + 2 * DayUs, flushSeq + 1)),
        feed)
      GateSetup(feed, cellUs, med, p80, nKeys)
    } finally { ev.unpersist(); () }
  }

  /** The ordered feed as the pane engines' typed (key, ts, value) input. */
  private[queries] def paneInput(s: SparkSession, feed: String)
      : Dataset[(String, Timestamp, Long)] = {
    import s.implicits._
    ReplayRunner.stream(s, StructType.fromDDL("k STRING, ts TIMESTAMP, v BIGINT"), feed)
      .select(col("k").as("_1"), col("ts").as("_2"), col("v").as("_3"))
      .as[(String, Timestamp, Long)]
  }

  /** The replay runner's pane output, flattened and flush-filtered. Shared
    * with [[SessionGateQueries]] — the session engine emits the same Pane. */
  private[queries] def paneTable(panes: DataFrame): DataFrame =
    panes
      .filter(col("key") =!= "__flush")
      .select(col("key").as("k"),
        unix_micros(col("windowStart")).as("ws_us"),
        unix_micros(col("windowEnd")).as("we_us"),
        col("timing"), col("paneIndex").as("pane_index"),
        col("isFirst").as("is_first"), col("isLast").as("is_last"),
        col("value._1").as("n"), col("value._2").as("sum_v"))
      .orderBy(col("k"), col("ws_us"), col("pane_index"))

  /** The q_trigger_panes query — shared verbatim with q_trigger_restart
    * so both run against the same oracle: early AND late AfterCount(1)
    * firings, ACCUMULATING panes, 2.4-cell lateness through the
    * Window.into builder. */
  private def panesQuery(s: SparkSession, g: GateSetup)
      : Dataset[Pane[String, (Long, Long)]] = {
    import s.implicits._
    WindowInto.fixedWindows(java.time.Duration.ofMillis(2 * g.cellUs / 1000))
      .triggering(early = AfterCount(1), late = AfterCount(1))
      .withAllowedLateness(java.time.Duration.ofMillis(g.cellUs * 12 / 5 / 1000))
      .accumulatingFiredPanes()
      .aggregate(paneInput(s, g.feed), NSumFn)
  }

  val defs: Map[String, Q] = Map(

    // §2.4 rows 34/41/42/43 under the driver gate: AfterWatermark with
    // early AND late firings through the Window.into builder,
    // ACCUMULATING panes, 2.4-cell allowed lateness (the former 12-days-
    // per-10-day-window ratio on the adaptive grid). Each window's two
    // half-cell batches fire one EARLY pane each (per-batch
    // AfterCount(1)); the watermark seals the window for an ON_TIME
    // marker pane; the held-out late file (the first window's second
    // cell's last fifth ∩ event_id%17=0, replayed when that window is
    // sealed but within lateness) fires a LATE pane; beyond-lateness
    // state is GC'd with nothing further emitted.
    "q_trigger_panes" -> { (s, dir) =>
      val g = setupFeed(s, dir, holdOutLate = true)
      // STATE BUDGET (VERDICT r12 task 7): peak state rows must be
      // ∝ keys × live windows, NEVER ∝ rows seen. A window is live from
      // its first row to end + lateness = 4.4 cells → ≤ 4 concurrent
      // windows per key; each holds one map entry plus ≤ 2 registered
      // timers (separate state rows), and __flush adds one key. The
      // budget is scale-INVARIANT: the adaptive grid fixes the cell
      // count, so sf0.01 and sf1 must both fit — an accumulator that
      // grew with data volume (the 100 TB failure mode) blows through
      // it immediately.
      paneTable(ReplayRunner.run(s, onPeak = Some { p =>
        val budget = (g.nKeys + 1L) * 4L * 3L
        require(p.peakRows <= budget,
          s"trigger-engine state budget exceeded: peak ${p.peakRows} state " +
            s"rows > budget $budget (${g.nKeys}+1 keys × 4 live windows × " +
            "3 rows) — state is growing with data, not with open windows")
      })(panesQuery(s, g)))
    },

    // VERDICT r12 task 1 — checkpoint-restart recovery for the trigger
    // engine, the production gap every streaming user hits first
    // (upstream analogue: Windmill state durability, SURVEY §3.3). The
    // IDENTICAL engine and feed as q_trigger_panes, but the query is
    // STOPPED mid-feed (after draining the feed's first half) and a new
    // query resumes from the checkpoint over the rest: the combined pane
    // table must equal q_trigger_panes' oracle VERBATIM — accumulating
    // window state, per-window pane numbering, trigger finished-flags,
    // and the watermark all have to survive the RocksDB/offset-log
    // round-trip, or the EARLY totals, pane indices, and LATE/GC
    // behavior visibly diverge from the oracle.
    "q_trigger_restart" -> { (s, dir) =>
      val g = setupFeed(s, dir, holdOutLate = true)
      paneTable(ReplayRunner.run(s, restartFeed = Some(g.feed))(panesQuery(s, g)))
    },

    // §2.4 row 41 (trigger algebra) + DISCARDING panes + the empty
    // ON_TIME marker + isLast, zero lateness: AfterEach(AfterCount(e),
    // AfterCount(e)) — the i-th early pane fires per the i-th
    // sub-trigger, so the pane schedule is DATA-DEPENDENT (a half-window
    // with ≥e rows fires immediately; a thin one waits for the
    // cumulative count), and the final ON_TIME pane carries only the
    // since-last-pane remainder (possibly the (0, 0) empty marker).
    // e = 45% of the median half-cell count (was a literal 340 pinned to
    // the sf0.01 fixture — VERDICT r11 task 5), so both branches fire at
    // every sf; TriggerThresholdSpec pins the branch diversity.
    "q_trigger_algebra" -> { (s, dir) =>
      import s.implicits._
      val g = setupFeed(s, dir, holdOutLate = false)
      val e = math.max(1L, g.med * 9 / 20).toInt
      paneTable(ReplayRunner.run(s)(TriggerEngine.windowedAggregate(
          paneInput(s, g.feed),
          java.time.Duration.ofMillis(2 * g.cellUs / 1000), java.time.Duration.ZERO,
          TriggerSpec(early = AfterEach(Seq(AfterCount(e), AfterCount(e)))),
          Discarding, NSumFn)))
    },

    // §2.4 row 41, the COMPOSITE half (VERDICT r11 task 2): one
    // deterministic tree through OrFinally + Repeatedly + AfterFirst +
    // AfterAll — OrFinally(Repeatedly(AfterFirst(AfterCount(med+1),
    // AfterAll(AfterCount(3med/4), AfterCount(med/2)))), until =
    // AfterCount(p80)), ACCUMULATING, zero lateness. Fires when a
    // pane holds ≥ 3·med/4 rows (the AfterAll arm; the AfterCount arm
    // joins at ≥ med+1); the `until` firing (a pane at or above the
    // rank-selected p80 half-cell count) FINISHES the early trigger,
    // observably suppressing the second half-window's EARLY pane. All
    // thresholds derive from the half-cell count distribution, so both
    // OrFinally branches fire at any sf (TriggerThresholdSpec pins the
    // diversity). AfterProcessingTime remains the only ungated firing
    // (clock-bound, outside a deterministic replay oracle — fuzz-proven).
    "q_trigger_composite" -> { (s, dir) =>
      import s.implicits._
      val g = setupFeed(s, dir, holdOutLate = false)
      val t = math.max(1L, g.med * 3 / 4)
      val d = math.max(t + 1, g.p80)
      paneTable(ReplayRunner.run(s)(TriggerEngine.windowedAggregate(
          paneInput(s, g.feed),
          java.time.Duration.ofMillis(2 * g.cellUs / 1000), java.time.Duration.ZERO,
          TriggerSpec(early = OrFinally(
            Repeatedly(AfterFirst(Seq(
              AfterCount((g.med + 1).toInt),
              AfterAll(Seq(AfterCount(t.toInt),
                AfterCount(math.max(1L, g.med / 2).toInt)))))),
            AfterCount(d.toInt))),
          Accumulating, NSumFn)))
    },

    // §2.4 Never trigger: suppress early and on-time firing — exactly
    // one FINAL pane per window at GC (= window end with zero
    // lateness), isFirst = isLast = true.
    "q_trigger_never" -> { (s, dir) =>
      import s.implicits._
      val g = setupFeed(s, dir, holdOutLate = false)
      paneTable(ReplayRunner.run(s)(TriggerEngine.windowedAggregate(
          paneInput(s, g.feed),
          java.time.Duration.ofMillis(2 * g.cellUs / 1000), java.time.Duration.ZERO,
          TriggerSpec.never, Accumulating, NSumFn)))
    },

    // §2.4 row 41's LAST ungated firing (VERDICT r12 task 2):
    // AfterProcessingTime pane BOUNDARIES, made deterministic by the
    // injectable engine clock. The trigger is AfterProcessingTimeDelay(2
    // cells) under QuantizedEventClock(1 cell): "now" reads as the key's
    // batch cell index, so a window's pending pane fires at the key's
    // first batch ≥ 2 cells after the pane opened — IF the window is
    // still unsealed there (zero lateness: the watermark of any batch
    // past cell 2w+1 seals window w). Both the fire position and the
    // seal race are pure functions of per-(key, cell) presence, which
    // the oracle replays: window w fires one EARLY pane iff the key is
    // populated at g1 = the first GLOBAL populated cell ≥ 2w+2 (any
    // later key-batch finds the window already sealed — input precedes
    // timers, and the sweep checks seal with the same watermark) and
    // g1 is ≥ 2 cells past the pane's opening cell (2w if the first
    // half is populated, else 2w+1). q_wallclock_panes remains the
    // real-clock conservation check for the SAME condition under
    // SystemEngineClock.
    "q_wallclock_boundaries" -> { (s, dir) =>
      import s.implicits._
      val g = setupFeed(s, dir, holdOutLate = false)
      val cellMs = g.cellUs / 1000
      paneTable(ReplayRunner.run(s)(TriggerEngine.windowedAggregate(
          paneInput(s, g.feed),
          java.time.Duration.ofMillis(2 * cellMs), java.time.Duration.ZERO,
          TriggerSpec(early = AfterProcessingTimeDelay(2 * cellMs)),
          Accumulating, NSumFn,
          clock = QuantizedEventClock(cellMs))))
    },

    // §2.4 SlidingWindows × the trigger algebra (multi-window
    // assignment — previously spec-only): size = 2 cells, slide =
    // 1 cell, so every row joins TWO windows and each window w sees its
    // cells as two consecutive batches — EARLY per batch (PerBatch
    // trigger, accumulating running totals), then the ON_TIME total.
    // The oracle replays it from per-cell counts: window w aggregates
    // cells w and w+1.
    "q_trigger_sliding" -> { (s, dir) =>
      import s.implicits._
      val g = setupFeed(s, dir, holdOutLate = false)
      paneTable(ReplayRunner.run(s)(TriggerEngine.slidingWindowedAggregate(
          paneInput(s, g.feed),
          java.time.Duration.ofMillis(2 * g.cellUs / 1000),
          java.time.Duration.ofMillis(g.cellUs / 1000), java.time.Duration.ZERO,
          TriggerSpec(early = PerBatch), Accumulating, NSumFn)))
    },
  )

  /** Shared oracle prelude: the adaptive grid (`grid` CTE — the same
    * cellDays = ceil(spanDays/8) integer arithmetic as [[gridCellUs]],
    * plus the first window's second cell c1 for the late slice), then
    * per (key, 2-cell epoch window) the half-window counts/sums (n1/s1,
    * n2/s2) with the late holdout excluded when the gate's feed holds
    * it out, plus the late rows' own (nl, sl). */
  private def aggCte(holdOutLate: Boolean) = {
    val lateExpr =
      if (holdOutLate)
        s"""(us // g.cu = g.c1 AND us % g.cu >= g.cu * 4 // 5
            AND event_id % 17 = 0)"""
      else "FALSE"
    s"""WITH ev AS (
         SELECT event_type AS k, epoch_us(ts) AS us, user_id AS v, event_id
         FROM events),
       grid0 AS (
         SELECT ((max(us) // $DayUs) - (min(us) // $DayUs) + 8) // 8
             * $DayUs AS cu,
           min(us) AS mn
         FROM ev),
       grid AS (
         SELECT cu, (mn // cu // 2) * 2 + 1 AS c1 FROM grid0),
       m AS (
         SELECT k, us // (2 * g.cu) AS w, (us // g.cu) % 2 AS h, v,
           $lateExpr AS late
         FROM ev, grid g),
       agg AS (
         SELECT k, w,
           SUM(CASE WHEN h = 0 AND NOT late THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN h = 0 AND NOT late THEN v ELSE 0 END) AS s1,
           SUM(CASE WHEN h = 1 AND NOT late THEN 1 ELSE 0 END) AS n2,
           SUM(CASE WHEN h = 1 AND NOT late THEN v ELSE 0 END) AS s2,
           SUM(CASE WHEN late THEN 1 ELSE 0 END) AS nl,
           SUM(CASE WHEN late THEN v ELSE 0 END) AS sl
         FROM m GROUP BY k, w),
       hc AS (
         SELECT k, us // g.cu AS cell, count(*) AS c
         FROM ev, grid g GROUP BY 1, 2),
       medv AS (
         SELECT c AS v FROM (
           SELECT c, row_number() OVER (ORDER BY c) AS rn,
             count(*) OVER () AS m
           FROM hc) WHERE rn = (m + 1) // 2),
       p80v AS (
         SELECT c AS v FROM (
           SELECT c, row_number() OVER (ORDER BY c) AS rn,
             count(*) OVER () AS m
           FROM hc) WHERE rn = (4 * m + 4) // 5),
       th AS (
         SELECT greatest(1, (SELECT v FROM medv) * 3 // 4) AS t,
           greatest(greatest(1, (SELECT v FROM medv) * 3 // 4) + 1,
             (SELECT v FROM p80v)) AS d,
           greatest(1, (SELECT v FROM medv) * 9 // 20) AS e)"""
  }

  private def paneSelect(body: String, holdOutLate: Boolean = false): String =
    s"""${aggCte(holdOutLate)},
       panes AS (
         $body)
       SELECT k, CAST(w * 2 * (SELECT cu FROM grid) AS BIGINT) AS ws_us,
         CAST((w + 1) * 2 * (SELECT cu FROM grid) AS BIGINT) AS we_us, timing,
         CAST(idx AS BIGINT) AS pane_index,
         idx = 0 AS is_first, is_last,
         CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v
       FROM panes ORDER BY k, ws_us, pane_index"""

  /** accumulating: EARLY panes carry the running total; ON_TIME repeats
    * the sealed total (late rows arrive after it); LATE adds them.
    * Shared by q_trigger_panes AND q_trigger_restart — the restart gate's
    * whole claim is that a mid-feed checkpoint restart changes nothing. */
  private val panesOracle: String = paneSelect(holdOutLate = true, body =
    """SELECT k, w, 0 AS idx, 'EARLY' AS timing, n1 AS n, s1 AS sum_v,
         FALSE AS is_last FROM agg WHERE n1 > 0
       UNION ALL
       SELECT k, w, CASE WHEN n1 > 0 THEN 1 ELSE 0 END, 'EARLY',
         n1 + n2, s1 + s2, FALSE FROM agg WHERE n2 > 0
       UNION ALL
       SELECT k, w,
         (CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END),
         'ON_TIME', n1 + n2, s1 + s2, FALSE FROM agg
       UNION ALL
       SELECT k, w,
         (CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END) + 1,
         'LATE', n1 + n2 + nl, s1 + s2 + sl, FALSE FROM agg WHERE nl > 0""")

  val oracles: Map[String, String] = Map(

    "q_trigger_panes" -> panesOracle,
    "q_trigger_restart" -> panesOracle,

    // discarding + AfterEach(e, e), e = the data-derived 45%-of-median
    // threshold (th.e): first sub fires in the first half-batch iff
    // n1 ≥ e, else on the cumulative count in the second; the second sub
    // needs e NEW rows; ON_TIME carries the remainder (the (0,0) empty
    // marker when everything already fired).
    "q_trigger_algebra" -> paneSelect(
      """SELECT k, w, 0 AS idx, 'EARLY' AS timing, n1 AS n, s1 AS sum_v,
           FALSE AS is_last FROM agg, th WHERE n1 >= th.e
         UNION ALL
         SELECT k, w, 0, 'EARLY', n1 + n2, s1 + s2, FALSE FROM agg, th
           WHERE n1 < th.e AND n1 + n2 >= th.e
         UNION ALL
         SELECT k, w, 1, 'EARLY', n2, s2, FALSE FROM agg, th
           WHERE n1 >= th.e AND n2 >= th.e
         UNION ALL
         SELECT k, w,
           CASE WHEN n1 >= th.e AND n2 >= th.e THEN 2
                WHEN n1 >= th.e OR n1 + n2 >= th.e THEN 1 ELSE 0 END,
           'ON_TIME',
           CASE WHEN n1 >= th.e AND n2 >= th.e THEN 0
                WHEN n1 >= th.e THEN n2
                WHEN n1 + n2 >= th.e THEN 0 ELSE n1 + n2 END,
           CASE WHEN n1 >= th.e AND n2 >= th.e THEN 0
                WHEN n1 >= th.e THEN s2
                WHEN n1 + n2 >= th.e THEN 0 ELSE s1 + s2 END,
           TRUE FROM agg, th"""),

    // composite OrFinally/Repeatedly/AfterFirst/AfterAll, accumulating:
    // a pane fires when its since-last-pane count reaches th.t; a firing
    // with count ≥ th.d is the LAST early pane (OrFinally finished), so
    // the second half's EARLY is suppressed after a th.d-sized first
    // half; ON_TIME always fires the accumulated total.
    "q_trigger_composite" -> paneSelect(
      """SELECT k, w, 0 AS idx, 'EARLY' AS timing, n1 AS n, s1 AS sum_v,
           FALSE AS is_last FROM agg, th WHERE n1 >= th.t
         UNION ALL
         SELECT k, w, CASE WHEN n1 >= th.t THEN 1 ELSE 0 END, 'EARLY',
           n1 + n2, s1 + s2, FALSE FROM agg, th
           WHERE NOT (n1 >= th.t AND n1 >= th.d) AND n2 > 0
             AND (CASE WHEN n1 >= th.t THEN n2 ELSE n1 + n2 END) >= th.t
         UNION ALL
         SELECT k, w,
           (CASE WHEN n1 >= th.t THEN 1 ELSE 0 END)
             + (CASE WHEN NOT (n1 >= th.t AND n1 >= th.d) AND n2 > 0
                  AND (CASE WHEN n1 >= th.t THEN n2 ELSE n1 + n2 END) >= th.t
                THEN 1 ELSE 0 END),
           'ON_TIME', n1 + n2, s1 + s2, TRUE FROM agg, th"""),

    // never: one FINAL pane per window with the full total.
    "q_trigger_never" -> paneSelect(
      """SELECT k, w, 0 AS idx, 'FINAL' AS timing, n1 + n2 AS n,
           s1 + s2 AS sum_v, TRUE AS is_last FROM agg"""),

    // AfterProcessingTime boundaries under the quantized virtual clock:
    // window w fires one EARLY pane (accumulating, so the full total —
    // both halves arrived before any cell ≥ 2w+2) iff the key is
    // populated at the first GLOBAL populated cell g1 ≥ 2w+2 and g1 is
    // ≥ 2 cells past the pane's opening cell; ON_TIME repeats the total.
    "q_wallclock_boundaries" ->
      s"""${aggCte(holdOutLate = false)},
         gc AS (SELECT DISTINCT cell FROM hc),
         g1 AS (
           SELECT a.k, a.w, min(gc.cell) AS g1
           FROM agg a LEFT JOIN gc ON gc.cell >= 2 * a.w + 2
           GROUP BY a.k, a.w),
         fired AS (
           SELECT a.k, a.w,
             g.g1 IS NOT NULL
               AND EXISTS (SELECT 1 FROM hc
                           WHERE hc.k = a.k AND hc.cell = g.g1)
               AND g.g1 >= (CASE WHEN a.n1 > 0 THEN 2 * a.w
                                 ELSE 2 * a.w + 1 END) + 2 AS f
           FROM agg a JOIN g1 g ON a.k = g.k AND a.w = g.w),
         panes AS (
           SELECT a.k, a.w, 0 AS idx, 'EARLY' AS timing,
             a.n1 + a.n2 AS n, a.s1 + a.s2 AS sum_v, FALSE AS is_last
           FROM agg a JOIN fired f ON a.k = f.k AND a.w = f.w WHERE f.f
           UNION ALL
           SELECT a.k, a.w, CASE WHEN f.f THEN 1 ELSE 0 END, 'ON_TIME',
             a.n1 + a.n2, a.s1 + a.s2, TRUE
           FROM agg a JOIN fired f ON a.k = f.k AND a.w = f.w)
         SELECT k, CAST(w * 2 * (SELECT cu FROM grid) AS BIGINT) AS ws_us,
           CAST((w + 1) * 2 * (SELECT cu FROM grid) AS BIGINT) AS we_us, timing,
           CAST(idx AS BIGINT) AS pane_index,
           idx = 0 AS is_first, is_last,
           CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v
         FROM panes ORDER BY k, ws_us, pane_index""",

    // sliding (size 2 cells, slide 1): window w = cells {w, w+1}; an
    // EARLY pane per populated cell (running totals), ON_TIME total.
    // Built on per-cell aggregates instead of the tumbling agg CTE; the
    // final select multiplies by ONE cell (not the 2-cell tumbling
    // window), so it inlines the grid arithmetic rather than reusing
    // paneSelect.
    "q_trigger_sliding" ->
      s"""${aggCte(holdOutLate = false)},
         cagg AS (
           SELECT k, us // g.cu AS cell, count(*) AS n, SUM(v) AS sv
           FROM ev, grid g GROUP BY 1, 2),
         contrib AS (
           SELECT k, cell AS w, 0 AS pos, n, sv FROM cagg
           UNION ALL
           SELECT k, cell - 1, 1, n, sv FROM cagg),
         wagg AS (
           SELECT k, w,
             SUM(CASE WHEN pos = 0 THEN n ELSE 0 END) AS na,
             SUM(CASE WHEN pos = 0 THEN sv ELSE 0 END) AS sa,
             SUM(CASE WHEN pos = 1 THEN n ELSE 0 END) AS nb,
             SUM(CASE WHEN pos = 1 THEN sv ELSE 0 END) AS sb
           FROM contrib GROUP BY k, w),
         panes AS (
           SELECT k, w, 0 AS idx, 'EARLY' AS timing, na AS n, sa AS sum_v,
             FALSE AS is_last FROM wagg WHERE na > 0
           UNION ALL
           SELECT k, w, CASE WHEN na > 0 THEN 1 ELSE 0 END, 'EARLY',
             na + nb, sa + sb, FALSE FROM wagg WHERE nb > 0
           UNION ALL
           SELECT k, w,
             (CASE WHEN na > 0 THEN 1 ELSE 0 END) + (CASE WHEN nb > 0 THEN 1 ELSE 0 END),
             'ON_TIME', na + nb, sa + sb, TRUE FROM wagg)
         SELECT k, CAST(w * (SELECT cu FROM grid) AS BIGINT) AS ws_us,
           CAST((w + 2) * (SELECT cu FROM grid) AS BIGINT) AS we_us, timing,
           CAST(idx AS BIGINT) AS pane_index,
           idx = 0 AS is_first, is_last,
           CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v
         FROM panes ORDER BY k, ws_us, pane_index""",
  )
}
