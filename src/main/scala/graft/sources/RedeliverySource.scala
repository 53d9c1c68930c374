package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An AT-LEAST-ONCE broker modeled as a DSv2 MicroBatchStream — the
  * redelivery half of the reference's unbounded-source contract that
  * [[CountingSourceProvider]] doesn't exercise ([U] IO/PubsubIO.java:
  * broker-assigned ids + timestamps, ack-based redelivery; [U]
  * IO/UnboundedSource.java requiresDeduping).
  *
  * Every micro-batch delivers its NEW records [s, e) plus a
  * deterministic REDELIVERY of the previous batch's last `overlap`
  * records — the unacked-message replay a real broker produces when
  * acks race the delivery cursor. The offset log only ever advances
  * over new records (redelivered rows never move the offset), so a
  * checkpoint restart replays exactly the broker contract: everything
  * after the last commit arrives again.
  *
  * Records carry broker-assigned `record_id` (the sequence number) and
  * `ts` (event time from the broker clock). Exactly-once is therefore
  * the CONSUMER's job, exactly as with PubsubIO.idLabel — compose with
  * [[graft.streaming.StreamOps.dedupWithinWatermark]] on `record_id`;
  * RedeliverySpec proves duplicates exist without it, vanish with it,
  * and stay gone across a checkpoint restart.
  *
  * Options: `n` (stop after n distinct records), `rowsPerBatch`,
  * `overlap` (redelivered tail size), `splits`, `startMs`, `periodMs`,
  * `skewMod` and `skewStepMs` (the attribute event-time skew, see
  * [[RedeliverySource.Config]]).
  *
  * The source supports `Trigger.AvailableNow`: a bounded replay of
  * `[0, n)` runs to the end in `rowsPerBatch` steps, batch for batch the
  * same as the default trigger drained with `processAllAvailable`.
  */
final class RedeliverySourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-redelivery"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RedeliverySource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    new RedeliveryTable(RedeliverySource.Config(properties.asScala.toMap))
  }
}

object RedeliverySource {
  /** `attrs` is the broker-message attribute map (JSON) — PubsubIO
    * carries both idLabel AND timestampLabel as message ATTRIBUTES, so
    * each record ships a payload-embedded event time (`evt_ms`, skewed
    * off the broker clock) and a source tag next to the broker-assigned
    * `record_id`/`ts`. q_stream_ts_attr derives its watermark from the
    * attribute, not the broker clock — the timestampLabel capability. */
  val Schema: StructType = StructType(Seq(
    StructField("record_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("attrs", StringType, nullable = false)))

  final case class Config(options: Map[String, String]) {
    private def get(k: String, d: Long): Long =
      options.get(k).map(_.toLong).getOrElse(d)
    val n: Long = get("n", 100L)
    val rowsPerBatch: Long = get("rowsPerBatch", 10L)
    val overlap: Long = get("overlap", 3L)
    val splits: Int = get("splits", 2L).toInt
    val startMs: Long = get("startMs", 1700000000000L)
    val periodMs: Long = get("periodMs", 1000L)
    require(overlap >= 0 && overlap <= rowsPerBatch,
      s"overlap must be in [0, rowsPerBatch], got $overlap")
    def tsMicrosOf(id: Long): Long = (startMs + id * periodMs) * 1000L
    /** Out-of-order shape knobs: event time lags the broker clock by
      * (id mod skewMod) × skewStepMs. The defaults (mod 7, half a
      * period) keep the skew inside one batch span — the original
      * timestampLabel shape; q_stream_broker raises skewStepMs past
      * the batch span so records arrive in a batch whose predecessors'
      * windows are already watermark-held — genuine cross-batch
      * out-of-order delivery. */
    val skewMod: Long = get("skewMod", 7L)
    val skewStepMs: Long = get("skewStepMs", periodMs / 2L)
    require(skewMod > 0, s"skewMod must be positive, got $skewMod")
    /** Attribute event time: the broker clock minus the deterministic
      * bounded skew — out-of-order within skewMod × skewStepMs. */
    def evtMillisOf(id: Long): Long =
      startMs + id * periodMs - (id % skewMod) * skewStepMs
    def attrsOf(id: Long): String =
      s"""{"evt_ms":${evtMillisOf(id)},"src":"s${id % splits}"}"""
  }
}

final class RedeliveryTable(config: RedeliverySource.Config)
    extends Table with SupportsRead {
  override def name(): String = s"graft-redelivery(${config.n})"
  override def schema(): StructType = RedeliverySource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = RedeliverySource.Schema
        override def description(): String = s"graft-redelivery n=${config.n}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RedeliveryMicroBatchStream(config)
      }
    }
}

/** Offset = count of DISTINCT records delivered (redeliveries excluded). */
final case class RedeliveryOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

final class RedeliveryMicroBatchStream(config: RedeliverySource.Config)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = RedeliveryOffset(0L)

  /** Nothing to pin: the data is the fixed range [0, n), and
    * `latestOffset(start, limit)` already stops at n. Without this
    * capability AvailableNow would fix its end at the first batch. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[RedeliveryOffset].count
    RedeliveryOffset(math.min(s + config.rowsPerBatch, config.n))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the supported form")
  override def deserializeOffset(json: String): Offset =
    RedeliveryOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()

  /** The batch for [s, e) REACHES BACK `overlap` records — the broker's
    * unacked replay. The offset log never records the reach-back, so a
    * restart from any committed offset replays it again (at-least-once,
    * never at-most-once). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RedeliveryOffset].count
    val e = end.asInstanceOf[RedeliveryOffset].count
    val from = math.max(0L, s - config.overlap)
    CountingSource.ranges(from, e, config.splits)
      .map { case (a, b) => CountingInputPartition(a, b): InputPartition }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new RedeliveryReaderFactory(config)
  override def stop(): Unit = ()
}

/** Top-level (serializable) factory — an inner anonymous class would
  * capture the non-serializable MicroBatchStream as `$outer`. */
final class RedeliveryReaderFactory(config: RedeliverySource.Config)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CountingInputPartition]
    new PartitionReader[InternalRow] {
      private var cur = p.start - 1
      override def next(): Boolean = { cur += 1; cur < p.end }
      override def get(): InternalRow =
        InternalRow(cur, config.tsMicrosOf(cur),
          org.apache.spark.unsafe.types.UTF8String.fromString(config.attrsOf(cur)))
      override def close(): Unit = ()
    }
  }
}
