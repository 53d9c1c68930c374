package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming trailing-window rate-anomaly detection — the unbounded leg
  * of `q_anomaly_rate`'s batch semantics: each OBSERVED hour of a key is
  * scored against the previous 24 observed hours (a ROWS frame over the
  * hourly-count table, so hours with no events do not participate), with
  * spike/dip flags in exact integer cross-multiplication.
  *
  * The FunnelStream watermark-sealing discipline applies: per key,
  * partial counts of still-open hours buffer in ListState; once the
  * watermark passes an hour's END the hour is sealed — sealed hours
  * replay in order into a bounded ring of the last 24 observed
  * (hour, count) rows, emitting one scored row per sealed hour with at
  * least 12 trailing observations. Append-clean: a sealed hour's count
  * can no longer change. A timer at the earliest open hour's end
  * re-awakens quiet keys. State per key: ≤ 24 ring entries + one
  * partial count per open hour inside the lateness horizon.
  *
  * Key space is the event-type domain — small by nature; the operator
  * is for per-metric monitoring, not per-user state (that is the funnel
  * processor's shape). */
object RateAnomalyStream {

  /** One scored hour (append stream) — the q_anomaly_rate row shape. */
  final case class RateFlag(event_type: String, hour: Timestamp, n: Long,
                            trail_sum: Long, trail_cnt: Long,
                            spike_hi: Boolean, dip_lo: Boolean)

  /** Per-hour count, sealed (ring) or partial (open). hourUs is the
    * hour START in epoch micros. */
  final case class HourCount(hourUs: Long, n: Long)

  private val HourUs = 3600L * 1000000L

  final class RateProcessor(trailLen: Int, minTrail: Int)
      extends StatefulProcessor[String, (String, Long), RateFlag] {

    @transient private var open: ListState[HourCount] = _
    @transient private var ring: ListState[HourCount] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getListState[HourCount]("open", Encoders.product[HourCount],
        TTLConfig.NONE)
      ring = getHandle.getListState[HourCount]("ring", Encoders.product[HourCount],
        TTLConfig.NONE)
    }

    private def score(key: String, incoming: List[Long], wm: Long): Iterator[RateFlag] = {
      // late-beyond-seal guard: hours seal in order, so the ring's max
      // hour IS the seal frontier — an event at or before it arrived
      // beyond the watermark and is dropped (re-opening a sealed hour
      // would re-emit it with a partial count)
      val frontier = ring.get().foldLeft(Long.MinValue)((m, h) => math.max(m, h.hourUs))
      val merged = scala.collection.mutable.Map.empty[Long, Long]
      open.get().foreach(h => merged(h.hourUs) = merged.getOrElse(h.hourUs, 0L) + h.n)
      incoming.foreach { us =>
        val h = Math.floorDiv(us, HourUs) * HourUs
        if (h > frontier) merged(h) = merged.getOrElse(h, 0L) + 1L
      }
      // an hour seals when the watermark passes its END
      val (ripe, pending) = merged.toList.partition(_._1 + HourUs <= wm * 1000L)
      var trail = ring.get().toList.sortBy(_.hourUs)
      val out = List.newBuilder[RateFlag]
      ripe.sortBy(_._1).foreach { case (hourUs, n) =>
        val tail = trail.takeRight(trailLen)
        val tSum = tail.map(_.n).sum
        val tCnt = tail.length.toLong
        if (tCnt >= minTrail)
          out += RateFlag(key, SealedSlots.usToTimestamp(hourUs), n,
            tSum, tCnt,
            n * tCnt > tSum * 2, n * tCnt * 2 < tSum)
        trail = (trail :+ HourCount(hourUs, n)).takeRight(trailLen)
      }
      ring.clear()
      trail.foreach(ring.appendValue)
      open.clear()
      if (pending.nonEmpty) {
        pending.foreach { case (h, n) => open.appendValue(HourCount(h, n)) }
        getHandle.registerTimer((pending.map(_._1).min + HourUs) / 1000L + 1)
      }
      out.result().iterator
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timers: TimerValues): Iterator[RateFlag] =
      score(key, rows.map(_._2).toList, timers.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: String, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[RateFlag] =
      score(key, Nil, timers.getCurrentWatermarkInMs())
  }

  /** Scored-hour stream over (typeCol: string, tsCol: timestamp).
    * Append mode, event-time; flags match q_anomaly_rate's batch rows
    * exactly once the watermark passes (RateAnomalyStreamSpec). */
  def hourlyFlags(events: DataFrame, typeCol: String, tsCol: String,
                  lateness: String = "1 hour",
                  trailLen: Int = 24, minTrail: Int = 12): Dataset[RateFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(typeCol).as("__k"), col(tsCol).as("__t"))
      .withWatermark("__t", lateness)
      .select(col("__k"), unix_micros(col("__t")).as("__us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new RateProcessor(trailLen, minTrail),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
