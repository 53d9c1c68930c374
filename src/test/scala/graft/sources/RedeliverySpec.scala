package graft.sources

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.StreamOps

/** The at-least-once broker contract (SURVEY §2.5, PubsubIO semantics:
  * broker-assigned ids/timestamps + ack-based redelivery), exercised
  * end to end against the graft-redelivery DSv2 source:
  *
  *  1. the broker really redelivers — the raw stream contains duplicate
  *     record ids (at-least-once, not exactly-once);
  *  2. id-dedup downstream (dedupWithinWatermark = PubsubIO.idLabel)
  *     restores exactly-once;
  *  3. a checkpoint restart replays the unacked tail (the failure-
  *     redelivery case) and the dedup STATE survives the restart — the
  *     combined output across both runs still holds each id once.
  */
class RedeliverySpec extends SparkSpec {
  import spark.implicits._

  test("the raw stream redelivers: duplicate ids exist without dedup") {
    // the default trigger drained by processAllAvailable and AvailableNow
    // run to termination must deliver the same bounded replay
    Seq("default" -> false, "available_now" -> true).foreach { case (name, availableNow) =>
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rd-raw-").toString
      val w = spark.readStream.format("graft-redelivery")
        .option("n", 50).option("rowsPerBatch", 10).option("overlap", 3)
        .load()
        .writeStream.format("memory").queryName(s"rd_raw_$name")
        .outputMode("append").option("checkpointLocation", ckpt)
      val q = (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
      try { if (availableNow) q.awaitTermination() else q.processAllAvailable() }
      finally q.stop()
      val ids = spark.table(s"rd_raw_$name").select("record_id").as[Long].collect().toSeq
      // 5 batches; batches 2..5 each redeliver 3 unacked records
      assert(ids.size == 50 + 4 * 3, s"$name: expected 62 deliveries, got ${ids.size}")
      assert(ids.distinct.sorted == (0L until 50L),
        s"$name: every record delivered at least once")
      val dupes = ids.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
      assert(dupes.nonEmpty, s"$name: the broker must actually redeliver")
    }
  }

  test("id-dedup downstream restores exactly-once") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rd-dd-").toString
    val raw = spark.readStream.format("graft-redelivery")
      .option("n", 50).option("rowsPerBatch", 10).option("overlap", 3)
      .load()
    val q = StreamOps.dedupWithinWatermark(
        StreamOps.withEventTime(raw, "ts", "1 hour"), Seq("record_id"))
      .writeStream.format("memory").queryName("rd_dedup")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("rd_dedup").select("record_id").as[Long].collect().toSeq
    assert(ids.sorted == (0L until 50L), s"exactly-once violated: ${ids.size} rows")
  }

  test("dedup state survives a checkpoint restart through the redelivered tail") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rd-rst-").toString
    val out = java.nio.file.Files.createTempDirectory("graft-rd-out-").toString
    def run(n: Int): Unit = {
      val raw = spark.readStream.format("graft-redelivery")
        .option("n", n).option("rowsPerBatch", 10).option("overlap", 3)
        .load()
      val q = StreamOps.dedupWithinWatermark(
          StreamOps.withEventTime(raw, "ts", "1 hour"), Seq("record_id"))
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(30)
    assert(spark.read.parquet(out).select("record_id").as[Long]
      .collect().sorted.toSeq == (0L until 30L))
    // restart: the first post-restart batch replays the unacked tail of
    // [27, 30) — duplicates across the restart boundary that only the
    // RESTORED dedup state can suppress
    run(60)
    val ids = spark.read.parquet(out).select("record_id").as[Long].collect().toSeq
    assert(ids.sorted == (0L until 60L),
      s"restart leaked duplicates or lost rows: ${ids.size} rows")
  }
}
