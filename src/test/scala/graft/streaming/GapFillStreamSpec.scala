package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming gap-fill: the sealed dense grid equals the batch q_gapfill
  * rows BIT FOR BIT on the real events fixture under out-of-order
  * delivery — every imputation (LOCF + exact linear interpolation) and
  * every gap row must land exactly once. */
class GapFillStreamSpec extends SparkSpec {
  import spark.implicits._

  private type Row4 = (String, Timestamp, Option[Double], Double, Double)

  test("sealed grid equals batch gapFillLinear on the sf0.001 fixture") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_gapfill")(spark, dir)
      .select(col("event_type"), col("slot_ts"), col("v"),
        col("ffill"), col("interp"))
      .as[Row4].collect().toSet

    val events = graft.Tables(spark, dir).events
      .filter(pmod(col("event_id"), lit(13)) === 0)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, Timestamp, Double)].collect().toSeq.sortBy(_._2.getTime)
    assert(events.nonEmpty)
    val third = events.length / 3
    val batches = Seq(events.take(third),
      events.slice(2 * third, events.length),
      events.slice(third, 2 * third))

    val input = MemoryStream[(String, Timestamp, Double)](4715, spark, None)
    val grid = GapFillStream.filled(
      input.toDS().toDF("event_type", "ts", "value"),
      "event_type", "ts", "value",
      lateness = "800 hours")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gf").toString
    val q = grid.writeStream.format("memory").queryName("gf_grid")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      // flush on a key OUTSIDE the fixture: a fixture key would extend
      // its own grid into the flush range and emit rows batch never has
      val last = events.map(_._2.getTime).max
      Seq(1L, 2L).foreach { k =>
        input.addData(Seq(("zzz_flush", new Timestamp(last + k * 900L * 3600000L), 0.0)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("gf_grid")
      .filter(col("key") =!= "zzz_flush")
      .select(col("key"), col("slot_ts"), col("v"), col("ffill"), col("interp"))
      .as[Row4].collect().toSet
    // batch rows past a key's last SEALED slot don't exist in either
    // engine here (everything sealed via the flush), so sets must match
    assert(got === batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    assert(got.exists(_._3.isEmpty), "no gap row in the fixture — vacuous")
  }

  test("a checkpoint restart between two observations emits the gap rows") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gf-rs").toString
    val out = java.nio.file.Files.createTempDirectory("graft-gf-rs-out").toString
    val t0 = 472222L * 3600000L // hour-aligned, so ts(h) is a slot start
    def ts(h: Long) = new Timestamp(t0 + h * 3600000L)

    val input = MemoryStream[(String, Timestamp, Double)](4717, spark, None)
    def start() = GapFillStream.filled(
        input.toDS().toDF("k", "ts", "v"), "k", "ts", "v", lateness = "1 hour")
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def emitted() = spark.read.parquet(out)
      .select("key", "slot_ts", "v", "ffill", "interp").as[Row4].collect()

    val q1 = start()
    try {
      input.addData(Seq(("a", ts(0), 2.0), ("a", ts(3), 8.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // wm = hour 2: slot 0 sealed, slot 3 still open
    assert(emitted().toSet == Set(("a", ts(0), Some(2.0), 2.0, 2.0)))

    val q2 = start()
    try {
      input.addData(Seq(("a", ts(6), 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    // slot 3 seals after the restart: the gap rows 1 and 2 interpolate
    // from the checkpointed last observation (slot 0, 2.0)
    assert(emitted().toSet == Set(
      ("a", ts(0), Some(2.0), 2.0, 2.0),
      ("a", ts(1), None, 2.0, 2.0 + (8.0 - 2.0) * (1.0 / 3.0)),
      ("a", ts(2), None, 2.0, 2.0 + (8.0 - 2.0) * (2.0 / 3.0)),
      ("a", ts(3), Some(8.0), 8.0, 8.0)))
  }
}
