package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Streaming Holt-Winters additive smoothing — the unbounded leg of
  * [[graft.operators.TimeSeries.holtWinters]]: per key, sealed slot
  * means feed the level/trend/seasonal recursion in slot order, each
  * post-warmup point carrying the one-step-ahead forecast
  * (l + b) + s_{t−m} — the live seasonal capacity signal next to
  * [[HoltStream]]'s trend-only one. Slots enter the chain through the
  * [[SealedSlots]] seal discipline.
  *
  * Warmup matches the batch convention: the first m = `period` sealed slots
  * buffer in the chain value; when the m-th seals, l₀ = their left-fold
  * mean, s_p = x_p − l₀, and the m warm rows emit together (level l₀,
  * trend 0, NULL forecast). After that every sealed slot steps the
  * recursion with the IDENTICAL IEEE trees as the batch scan, so sealed
  * stream points equal batch rows bit for bit (HoltWintersStreamSpec).
  */
object HoltWintersStream {

  /** One sealed, smoothed slot (append stream). */
  final case class HwPoint(key: String, slot_ts: Timestamp, v: Double,
                           level: Double, trend: Double, seasonal: Double,
                           forecast: Option[Double])

  /** The smoothing chain: last sealed slot, row index, level, trend,
    * the m seasonal indices by phase (idx mod m), and the sealed warmup
    * observations. While warming (idx < m) only lastSlotUs, idx and
    * warm are set; once warm, warm is empty. */
  final case class HwChain(lastSlotUs: Long, idx: Long, l: Double,
                           b: Double, s: Seq[Double], warm: Seq[HwWarm])

  /** A sealed warmup observation waiting for the m-th slot. */
  final case class HwWarm(slotUs: Long, x: Double)

  /** Level/trend/seasonal/forecast stream over (keyCol: string, tsCol:
    * timestamp, valueCol: double). Append mode, event-time; sealed
    * points equal the batch holtWinters rows exactly. */
  def smoothing(events: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, period: Int,
                lateness: String = "1 hour",
                alpha: Double = 0.25, beta: Double = 0.125,
                gamma: Double = 0.25,
                slotDuration: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[HwPoint] = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0,1], got $gamma")
    SealedSlots.run(events, keyCol, tsCol, valueCol, lateness,
      new SealedSlots.Processor[HwChain, HwPoint](
        slotDuration.toNanos / 1000L, Encoders.product[HwChain],
        _.lastSlotUs, { (key, ch, a) =>
          val x = a.mean
          ch match {
            case Some(c) if c.idx >= period =>
              val p = (c.idx % period).toInt
              val sOld = c.s(p)
              val fc = (c.l + c.b) + sOld
              val lp = c.l
              val l = alpha * (x - sOld) + (1 - alpha) * (c.l + c.b)
              val b = beta * (l - lp) + (1 - beta) * c.b
              val sp = gamma * (x - l) + (1 - gamma) * sOld
              (HwChain(a.slotUs, c.idx + 1, l, b, c.s.updated(p, sp), Nil),
                Seq(HwPoint(key, SealedSlots.usToTimestamp(a.slotUs), x, l, b,
                  sp, Some(fc))))
            case _ =>
              val warm = ch.fold(Seq.empty[HwWarm])(_.warm) :+ HwWarm(a.slotUs, x)
              if (warm.length < period)
                (HwChain(a.slotUs, warm.length.toLong, 0.0, 0.0, Nil, warm), Nil)
              else {
                // batch init: left-fold mean, seasonal = residuals
                val l0 = warm.foldLeft(0.0)(_ + _.x) / period
                val s = warm.map(_.x - l0)
                (HwChain(a.slotUs, period.toLong, l0, 0.0, s, Nil),
                  warm.zip(s).map { case (w, sp) =>
                    HwPoint(key, SealedSlots.usToTimestamp(w.slotUs), w.x, l0,
                      0.0, sp, None)
                  })
              }
          }
        }))
  }
}
