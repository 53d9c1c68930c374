package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming ordered-conversion funnel — the unbounded leg of
  * `q_funnel`'s batch semantics: step k completes at the EARLIEST event
  * of its type strictly after step k-1's completion time.
  *
  * That definition is not monotone under out-of-order arrival (a late
  * 'view' can lower t1 and thereby change which 'click' legitimately
  * completes step 2), so incremental per-event updates would emit
  * retractions. Instead, per user:
  *
  *  - events still inside the watermark horizon BUFFER in ListState;
  *  - once the watermark passes an event's time it is SEALED: sealed
  *    events replay in (ts, step) order into the monotone step state
  *    (a prefix of completion times), emitting one StepDone per newly
  *    completed step — append-mode-clean because sealed history can
  *    no longer change;
  *  - a timer at the earliest unsealed timestamp re-awakens quiet keys
  *    so buffered events seal even if the user never sends again;
  *  - a fully converted user drops their buffer and ignores further
  *    events (state O(steps), not O(events)).
  *
  * The sealed in-order fold equals the batch progressive-min-ts
  * definition exactly (strict > makes tie order irrelevant), so the
  * final completion set is batch ≡ stream — FunnelStreamSpec asserts
  * it row-for-row against the q_funnel leg computation, including
  * out-of-order batch splits. State is bounded by events-per-horizon
  * per user plus O(steps).
  */
object FunnelStream {

  /** A completed funnel step (append stream). */
  final case class StepDone(user_id: Long, step: Int, step_name: String,
                            ts: Timestamp)

  /** One buffered (unsealed) event (epoch MICROS — the fixture's full
    * timestamp precision; millis would blur strict-inequality ties the
    * batch leg resolves at microsecond grain). */
  final case class BufEv(tsUs: Long, step: Int)

  /** Monotone progress: completion epoch-micros per completed prefix. */
  final case class Progress(times: List[Long])

  final class FunnelProcessor(steps: Array[String])
      extends StatefulProcessor[Long, (Long, Long, Int), StepDone] {

    @transient private var buf: ListState[BufEv] = _
    @transient private var prog: ValueState[Progress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEv]("buf", Encoders.product[BufEv],
        TTLConfig.NONE)
      prog = getHandle.getValueState[Progress]("prog",
        Encoders.product[Progress], TTLConfig.NONE)
    }

    private def currentProgress: List[Long] =
      Option(prog.get()).map(_.times).getOrElse(Nil)

    /** Seal + replay; returns emissions. Shared by rows and timers. */
    private def seal(key: Long, incoming: List[BufEv], wm: Long): Iterator[StepDone] = {
      var done = currentProgress
      if (done.length == steps.length) {
        // converted: nothing left to observe — drop any stale buffer
        buf.clear()
        return Iterator.empty
      }
      val all = buf.get().toList ++ incoming
      // watermark is millis; an event seals only when its full micro
      // timestamp is at or before the watermark instant
      val (ripe, pending) = all.partition(_.tsUs <= wm * 1000L)
      val out = List.newBuilder[StepDone]
      ripe.sortBy(e => (e.tsUs, e.step)).foreach { e =>
        if (done.length < steps.length && e.step == done.length &&
            (done.isEmpty || e.tsUs > done.head)) {
          done = e.tsUs :: done
          out += StepDone(key, done.length, steps(done.length - 1),
            SealedSlots.usToTimestamp(e.tsUs))
        }
      }
      prog.update(Progress(done))
      buf.clear()
      if (done.length < steps.length && pending.nonEmpty) {
        pending.foreach(buf.appendValue)
        // fire when the watermark passes the earliest unsealed event
        getHandle.registerTimer(pending.map(_.tsUs).min / 1000L + 1)
      }
      out.result().iterator
    }

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Int)],
                                 timers: TimerValues): Iterator[StepDone] =
      seal(key, rows.map(r => BufEv(r._2, r._3)).toList,
        timers.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[StepDone] =
      seal(key, Nil, timers.getCurrentWatermarkInMs())
  }

  /** Funnel-step completions over a streaming frame of
    * (userCol: long, tsCol: timestamp, typeCol: string). `steps` is the
    * ordered event-type sequence; events of other types are dropped at
    * the source (no state) — BEFORE the watermark, deliberately, so
    * only funnel-typed events advance event time (Catalyst pushes the
    * deterministic filter below the watermark node either way; ordering
    * it explicitly makes the semantics readable instead of accidental).
    * Append mode, event-time. */
  def stepCompletions(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, steps: Seq[String],
                      lateness: String = "10 minutes"): Dataset[StepDone] = {
    require(steps.nonEmpty, "need at least one funnel step")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val idxCol = steps.foldLeft(lit(-1)) { (acc, s) =>
      when(col(typeCol) === s, lit(stepIdx(s))).otherwise(acc)
    }
    events
      .select(col(userCol).cast("long").as("__u"), col(tsCol).as("__t"),
        idxCol.as("__step"))
      .filter(col("__step") >= 0)
      .withWatermark("__t", lateness)
      .select(col("__u"), unix_micros(col("__t")).as("__ts"), col("__step"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(steps.toArray),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
