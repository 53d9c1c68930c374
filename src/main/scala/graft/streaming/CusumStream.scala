package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Streaming CUSUM — the unbounded leg of `q_cusum`'s batch semantics:
  * per key, the slot means (DECIMAL(18,4)-exact, the davg device) feed
  * the drift statistic `s₀ = 0, sₜ = max(0, sₜ₋₁ + xₜ − target − slack)`
  * in slot order, alarming when sₜ > threshold — the live form of the
  * change detector a curation pipeline runs on quality-score or volume
  * series. Slots enter the chain through the [[SealedSlots]] seal
  * discipline.
  *
  * The in-control `target` per key is a PARAMETER (the monitored
  * process's known level, configured upstream) — a stream cannot know
  * the batch query's whole-fixture mean ahead of time, and a drift
  * detector that re-estimates its own baseline from the drifting data
  * would chase the drift. Keys without a target are not monitored: their
  * slots seal like any other key's but emit nothing. They are not
  * filtered out before the processor, because Catalyst would push that
  * key filter below the watermark node and the filtered rows would stop
  * advancing the watermark.
  *
  * Arithmetic contract: slot means accumulate as scaled-long 4-dp sums,
  * and each chain step is the same left-associated IEEE tree as
  * [[graft.operators.TimeSeries.cusum]] — sealed stream points equal
  * the batch rows bit for bit (CusumStreamSpec).
  */
object CusumStream {

  /** One sealed slot of the drift statistic (append stream). */
  final case class CusumPoint(key: String, slot_ts: Timestamp, v: Double,
                              cusum: Double, alarm: Boolean)

  /** The statistic chain: last sealed slot + current CUSUM value. */
  final case class CuChain(lastSlotUs: Long, s: Double)

  /** Drift statistic stream over (keyCol: string, tsCol: timestamp,
    * valueCol: double). Append mode, event-time; sealed points equal
    * the batch [[graft.operators.TimeSeries.cusum]] rows exactly
    * (CusumStreamSpec).
    *
    * @param targets per-key in-control level; keys absent from the map
    *                are not monitored
    * @param slotDuration grid slot width (default 1 hour, the q_cusum
    *                     shape) */
  def drifting(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, targets: Map[String, Double],
               slack: Double, threshold: Double,
               lateness: String = "1 hour",
               slotDuration: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[CusumPoint] = {
    require(targets.nonEmpty, "no in-control targets: nothing to monitor")
    SealedSlots.run(events, keyCol, tsCol, valueCol, lateness,
      new SealedSlots.Processor[CuChain, CusumPoint](
        slotDuration.toNanos / 1000L, Encoders.product[CuChain],
        _.lastSlotUs, { (key, ch, a) =>
          targets.get(key) match {
            case None => (CuChain(a.slotUs, 0.0), Nil) // unmonitored key
            case Some(target) =>
              val x = a.mean
              // the batch scan's exact tree: ((s + x) − target) − slack
              val s = math.max(0.0, ch.map(_.s).getOrElse(0.0) + x - target - slack)
              (CuChain(a.slotUs, s), Seq(CusumPoint(key,
                SealedSlots.usToTimestamp(a.slotUs), x, s, s > threshold)))
          }
        }))
  }
}
