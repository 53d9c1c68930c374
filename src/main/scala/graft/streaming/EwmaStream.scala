package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Streaming EWMA — the unbounded leg of `q_ewma`'s batch semantics:
  * per key, the slot means (DECIMAL(18,4)-exact, the davg device)
  * smooth through `y₁ = x₁, yₜ = α·xₜ + (1−α)·yₜ₋₁` in slot order.
  *
  * The recurrence makes every point depend on every earlier slot of its
  * key, so slots enter the chain through the [[SealedSlots]] seal
  * discipline. State per key: one (lastSlot, y) chain record + the open
  * slot accumulators.
  *
  * Arithmetic contract: slot means accumulate as scaled-long 4-dp sums
  * (bit-identical to the batch `CAST(value AS DECIMAL(18,4))` sum in
  * any arrival order), and each chain step is the same two-multiply-add
  * IEEE tree as [[graft.operators.TimeSeries.ewma]] — so sealed stream
  * points equal the batch rows bit for bit (EwmaStreamSpec).
  */
object EwmaStream {

  /** One sealed, smoothed slot (append stream). */
  final case class EwmaPoint(key: String, slot_ts: Timestamp, v: Double,
                             ewma: Double)

  /** The smoothing chain: last sealed slot + current EWMA value. */
  final case class Chain(lastSlotUs: Long, y: Double)

  /** Smoothed stream over (keyCol: string, tsCol: timestamp, valueCol:
    * double). Append mode, event-time; sealed points equal the batch
    * [[graft.operators.TimeSeries.ewma]] rows exactly (EwmaStreamSpec).
    *
    * @param slotDuration grid slot width (default 1 hour, the q_ewma
    *                     shape) */
  def smoothed(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, lateness: String = "1 hour",
               alpha: Double = 0.25,
               slotDuration: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[EwmaPoint] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    SealedSlots.run(events, keyCol, tsCol, valueCol, lateness,
      new SealedSlots.Processor[Chain, EwmaPoint](slotDuration.toNanos / 1000L,
        Encoders.product[Chain], _.lastSlotUs, { (key, ch, a) =>
          val x = a.mean
          val y = ch match {
            case None => x
            case Some(c) => alpha * x + (1 - alpha) * c.y
          }
          (Chain(a.slotUs, y),
            Seq(EwmaPoint(key, SealedSlots.usToTimestamp(a.slotUs), x, y)))
        }))
  }
}
