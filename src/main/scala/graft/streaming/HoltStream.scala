package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Streaming Holt linear-trend smoothing — the unbounded leg of
  * `q_holt_trend`'s batch semantics: per key, the slot means
  * (DECIMAL(18,4)-exact) feed the two-variable recurrence
  *   l₁ = x₁, b₁ = 0;  lₜ = α·xₜ + (1−α)·(lₜ₋₁ + bₜ₋₁),
  *   bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁
  * in slot order, each sealed point carrying the one-step-ahead
  * forecast lₜ + bₜ — the live capacity-planning signal (where is this
  * series heading) next to [[CusumStream]]'s "did it drift". Slots
  * enter the chain through the [[SealedSlots]] seal discipline.
  *
  * Arithmetic contract: identical IEEE trees to
  * [[graft.operators.TimeSeries.holtLinear]], so sealed stream points
  * equal the batch rows bit for bit (HoltStreamSpec).
  */
object HoltStream {

  /** One sealed, smoothed slot (append stream). */
  final case class HoltPoint(key: String, slot_ts: Timestamp, v: Double,
                             level: Double, trend: Double, forecast: Double)

  /** The smoothing chain: last sealed slot + current level and trend. */
  final case class HoltChain(lastSlotUs: Long, l: Double, b: Double)

  /** Level/trend/forecast stream over (keyCol: string, tsCol: timestamp,
    * valueCol: double). Append mode, event-time; sealed points equal the
    * batch [[graft.operators.TimeSeries.holtLinear]] rows exactly
    * (HoltStreamSpec). */
  def trending(events: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, lateness: String = "1 hour",
               alpha: Double = 0.5, beta: Double = 0.25,
               slotDuration: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[HoltPoint] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    SealedSlots.run(events, keyCol, tsCol, valueCol, lateness,
      new SealedSlots.Processor[HoltChain, HoltPoint](
        slotDuration.toNanos / 1000L, Encoders.product[HoltChain],
        _.lastSlotUs, { (key, ch, a) =>
          val x = a.mean
          // the batch scan's exact trees
          val (l, b) = ch match {
            case None => (x, 0.0)
            case Some(c) =>
              val lp = c.l
              val l2 = alpha * x + (1 - alpha) * (lp + c.b)
              (l2, beta * (l2 - lp) + (1 - beta) * c.b)
          }
          (HoltChain(a.slotUs, l, b), Seq(HoltPoint(key,
            SealedSlots.usToTimestamp(a.slotUs), x, l, b, l + b)))
        }))
  }
}
