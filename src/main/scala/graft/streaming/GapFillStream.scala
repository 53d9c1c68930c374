package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Streaming gap-fill — the unbounded leg of
  * [[graft.operators.TimeSeries.gapFillLinear]]: as observed slots seal
  * through the [[SealedSlots]] seal discipline, every grid slot between
  * the previous observation and the new one is emitted with the batch
  * operator's two imputations — LOCF carries the previous sealed mean
  * forward, and linear interpolation becomes computable EXACTLY when the
  * bracketing observation arrives. The observed slot itself emits with
  * v = ffill = interp = its mean, matching the batch rows.
  *
  * Emission contract vs batch: identical rows for every slot from the
  * key's first observation through its last SEALED observation — the
  * batch grid's trailing segment (after the last observation) does not
  * exist in either engine, and its leading edge (nothing before the
  * first observation) matches by construction. A gap row is emitted
  * exactly once, when its RIGHT bracket seals — the price of exact
  * interpolation on an unbounded stream is that gap latency equals the
  * distance to the next observation (plus lateness), which is the
  * information-theoretic minimum for linear interpolation.
  *
  * State per key: one (lastSlot, lastMean) record + the open slot
  * accumulators — O(open), grid length never enters state.
  */
object GapFillStream {

  /** One dense-grid row (append stream) — the q_gapfill row shape.
    * `v` is null on gap rows; `interp` walks the exact IEEE line. */
  final case class GridPoint(key: String, slot_ts: Timestamp,
                             v: Option[Double], ffill: Double,
                             interp: Double)

  /** Last sealed observation of the key. */
  final case class LastObs(slotUs: Long, v: Double)

  /** Dense-grid stream over (keyCol: string, tsCol: timestamp, valueCol:
    * double). Append mode, event-time; rows equal the batch
    * gapFillLinear output over the sealed range (GapFillStreamSpec). */
  def filled(events: DataFrame, keyCol: String, tsCol: String,
             valueCol: String, lateness: String = "1 hour",
             slotDuration: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[GridPoint] = {
    val slotUs = slotDuration.toNanos / 1000L
    SealedSlots.run(events, keyCol, tsCol, valueCol, lateness,
      new SealedSlots.Processor[LastObs, GridPoint](slotUs,
        Encoders.product[LastObs], _.slotUs, { (key, prev, a) =>
          val x = a.mean
          val gaps = prev.toSeq.flatMap { p =>
            // the batch interpolation tree, with pt/nt in grid units so
            // the ratio is the same (t - pt)/(nt - pt) double division
            val pt = p.slotUs / slotUs; val nt = a.slotUs / slotUs
            (p.slotUs + slotUs until a.slotUs by slotUs).map { t =>
              val interp = p.v + (x - p.v) *
                ((t / slotUs - pt).toDouble / (nt - pt).toDouble)
              GridPoint(key, SealedSlots.usToTimestamp(t), None, p.v, interp)
            }
          }
          (LastObs(a.slotUs, x),
            gaps :+ GridPoint(key, SealedSlots.usToTimestamp(a.slotUs), Some(x), x, x))
        }))
  }
}
