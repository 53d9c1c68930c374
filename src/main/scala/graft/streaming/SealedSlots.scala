package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** The one sealed-slot processor behind the chain streams
  * ([[EwmaStream]], [[CusumStream]], [[HoltStream]],
  * [[HoltWintersStream]], [[GapFillStream]]). Each is a recurrence over
  * its key's slot means in slot order, so EVERY emitted row depends on
  * every earlier slot of the key, and a slot may only enter the chain
  * once its mean can no longer change. The watermark-completeness
  * trigger of the Dataflow model delivers exactly that:
  *
  *  - open slots buffer per key as partial [[SlotAcc]]s in ListState;
  *  - once the watermark passes a slot's END the slot seals, and sealed
  *    slots fold into the key's chain value in slot order, each fold
  *    emitting its rows once: append-clean by construction;
  *  - slots seal in order, so the chain's last slot IS the sealed
  *    frontier: a row at or before it arrived beyond the watermark and
  *    is dropped instead of corrupting the chain;
  *  - a timer at the earliest open slot's end re-awakens quiet keys.
  *
  * State per key: one chain value + one accumulator per open slot
  * inside the lateness horizon. An operator supplies only its fold.
  *
  * Two processors seal on the watermark too but keep their own loop.
  * [[RateAnomalyStream]] counts rows and has no value column: feeding
  * it a constant would add a per-row decimal rounding to the one chain
  * that reads every event. [[FunnelStream]] seals per event, not per
  * slot.
  */
object SealedSlots {

  /** Partial accumulator of a still-open slot. slotUs = slot START in
    * epoch micros; sum4 = Σ round-half-up(value·10⁴) (the DECIMAL(18,4)
    * sum as a scaled long, exact in any arrival order). */
  final case class SlotAcc(slotUs: Long, sum4: Long, cnt: Long) {
    /** The davg device: exact 4-dp decimal sum → double → one division. */
    def mean: Double = (sum4.toDouble / 10000.0) / cnt
  }

  /** Spark's double→DECIMAL(18,4) cast rounds the SHORTEST decimal
    * representation half-up — BigDecimal.valueOf matches that; an exact
    * binary expansion (new BigDecimal(v)) would not. */
  private[streaming] def scaled4(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Epoch micros → Timestamp at full microsecond precision. */
  private[streaming] def usToTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The seal loop over (key, epoch micros, value) rows.
    *
    * @param frontier the last sealed slot start recorded in a chain value
    * @param fold     one sealed slot into the key's chain (None before
    *                 the first): the next chain value and the rows to emit */
  final class Processor[C, O](slotUs: Long, chainEncoder: Encoder[C],
                              frontier: C => Long,
                              fold: (String, Option[C], SlotAcc) => (C, Seq[O]))
      extends StatefulProcessor[String, (String, Long, Double), O] {

    @transient private var open: ListState[SlotAcc] = _
    @transient private var chain: ValueState[C] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getListState[SlotAcc]("open", Encoders.product[SlotAcc],
        TTLConfig.NONE)
      chain = getHandle.getValueState[C]("chain", chainEncoder, TTLConfig.NONE)
    }

    private def step(key: String, incoming: Iterator[(String, Long, Double)],
                     wmMs: Long): Iterator[O] = {
      val ch = Option(chain.get())
      val sealedTo = ch.map(frontier).getOrElse(Long.MinValue)
      val merged = scala.collection.mutable.Map.empty[Long, SlotAcc]
      def add(a: SlotAcc): Unit = merged(a.slotUs) = merged.get(a.slotUs)
        .fold(a)(m => SlotAcc(a.slotUs, m.sum4 + a.sum4, m.cnt + a.cnt))
      open.get().foreach(add)
      incoming.foreach { case (_, us, v) =>
        val slot = Math.floorDiv(us, slotUs) * slotUs
        if (slot > sealedTo) add(SlotAcc(slot, scaled4(v), 1L))
      }
      val (ripe, pending) =
        merged.values.toList.partition(_.slotUs + slotUs <= wmMs * 1000L)
      val out = List.newBuilder[O]
      var cur = ch
      ripe.sortBy(_.slotUs).foreach { a =>
        val (c, rows) = fold(key, cur, a)
        out ++= rows
        cur = Some(c)
      }
      if (ripe.nonEmpty) cur.foreach(chain.update)
      open.clear()
      if (pending.nonEmpty) {
        pending.foreach(open.appendValue)
        getHandle.registerTimer((pending.map(_.slotUs).min + slotUs) / 1000L + 1)
      }
      out.result().iterator
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Double)],
                                 timers: TimerValues): Iterator[O] =
      step(key, rows, timers.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: String, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[O] =
      step(key, Iterator.empty, timers.getCurrentWatermarkInMs())
  }

  /** Run `processor` over (keyCol: string, tsCol: timestamp, valueCol:
    * numeric) with a `lateness` watermark on tsCol. Append mode,
    * event-time. */
  def run[O <: Product : TypeTag](events: DataFrame, keyCol: String,
                                  tsCol: String, valueCol: String,
                                  lateness: String,
                                  processor: Processor[_, O]): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valueCol).cast("double").as("__v"))
      .withWatermark("__t", lateness)
      .select(col("__k"), unix_micros(col("__t")).as("__us"), col("__v"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }
}
