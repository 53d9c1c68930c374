package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming CUSUM: sealed points must equal the batch q_cusum rows
  * BIT FOR BIT on the real events fixture across multi-batch
  * out-of-order delivery — the max(0, ·) chain makes any sealing
  * mistake visible in every later point of the key (a reset at the
  * wrong slot poisons the whole tail), so exact equality is sharp. */
class CusumStreamSpec extends SparkSpec {
  import spark.implicits._

  private type Pt = (String, Timestamp, Double, Double, Boolean)

  test("sealed stream points equal batch TimeSeries.cusum on the sf0.001 fixture") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_cusum")(spark, dir)
      .select(col("event_type"), to_timestamp(col("slot") * 3600).as("slot_ts"),
        col("v"), col("cusum"), col("alarm"))
      .as[Pt].collect().toSet

    // the stream is configured with the SAME per-key in-control levels
    // the batch query derives (exact davg doubles)
    val targets = graft.Tables(spark, dir).events
      .filter(pmod(col("event_id"), lit(13)) === 0)
      .groupBy(col("event_type"))
      .agg(graft.queries.QueryUtil.davg(col("value")).as("t"))
      .as[(String, Double)].collect().toMap

    val events = graft.Tables(spark, dir).events
      .filter(pmod(col("event_id"), lit(13)) === 0)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, Timestamp, Double)].collect().toSeq.sortBy(_._2.getTime)
    assert(events.nonEmpty)
    // deliberate out-of-order delivery: the middle third arrives LAST
    val third = events.length / 3
    val batches = Seq(events.take(third),
      events.slice(2 * third, events.length),
      events.slice(third, 2 * third))

    val input = MemoryStream[(String, Timestamp, Double)](4715, spark, None)
    val pts = CusumStream.drifting(
      input.toDS().toDF("event_type", "ts", "value"),
      "event_type", "ts", "value", targets,
      slack = 0.5, threshold = 250.0,
      lateness = "800 hours") // exceeds the fixture-wide reorder above
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    val q = pts.writeStream.format("memory").queryName("cusum_pts")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val last = events.map(_._2.getTime).max
      Seq(1L, 2L).foreach { k =>
        input.addData(Seq(("view", new Timestamp(last + k * 900L * 3600000L), 0.0)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("cusum_pts")
      .filter(col("slot_ts") <= new Timestamp(events.map(_._2.getTime).max))
      .select(col("key"), col("slot_ts"), col("v"), col("cusum"), col("alarm"))
      .as[Pt].collect().toSet
    assert(got === batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    assert(got.nonEmpty, "fixture produced no sealed points — vacuous")
    assert(got.exists(_._5) && got.exists(!_._5),
      "fixture exercises only one alarm state — vacuous alarm check")
  }

  test("checkpoint restart resumes the statistic without re-emitting sealed points") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cusum-rs").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cusum-rs-out").toString
    val t0 = 1700000000000L
    def ts(h: Long) = new Timestamp(t0 + h * 3600000L)

    val input = MemoryStream[(String, Timestamp, Double)](4716, spark, None)
    def start() = CusumStream.drifting(
        input.toDS().toDF("k", "ts", "v"), "k", "ts", "v",
        targets = Map("a" -> 2.0), slack = 0.5, threshold = 4.0,
        lateness = "1 hour")
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      // b has no target: its slots seal but emit nothing
      input.addData(Seq(("a", ts(0), 8.0), ("a", ts(0), 4.0), ("a", ts(5), 1.0),
        ("b", ts(0), 7.0), ("b", ts(2), 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    val first = spark.read.parquet(out)
      .select("key", "v", "cusum", "alarm")
      .as[(String, Double, Double, Boolean)].collect()
    // slot 0 sealed with mean 6.0: s = max(0, 0 + 6 - 2 - 0.5) = 3.5, no alarm
    assert(first.toSet == Set(("a", 6.0, 3.5, false)))

    val q2 = start()
    try {
      input.addData(Seq(("a", ts(9), 3.0), ("b", ts(6), 5.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val second = spark.read.parquet(out)
      .select("key", "v", "cusum", "alarm")
      .as[(String, Double, Double, Boolean)].collect()
    // slot 5 seals after restart from the state-store s=3.5:
    // s = max(0, 3.5 + 1 - 2 - 0.5) = 2.0; slot 0 is NOT re-emitted
    assert(second.toSet == Set(("a", 6.0, 3.5, false), ("a", 1.0, 2.0, false)))
    assert(second.count(_._1 == "b") == 0)

    // unmonitored key: no emission even when its slots seal
    val q3 = start()
    try {
      input.addData(Seq(("zz", ts(9), 50.0), ("a", ts(14), 9.0)))
      q3.processAllAvailable()
      input.addData(Seq(("a", ts(20), 0.0)))
      q3.processAllAvailable()
    } finally q3.stop()
    val third = spark.read.parquet(out)
      .select("key", "v", "cusum", "alarm")
      .as[(String, Double, Double, Boolean)].collect()
    // a's slot 9 sealed: s = max(0, 2.0 + 3 - 2 - 0.5) = 2.5... then 14:
    // wm from 20 passed 14's end: s = max(0, 2.5 + 9 - 2 - 0.5) = 9.0 ALARM
    assert(third.count(_._1 == "zz") == 0)
    assert(third.toSet.contains(("a", 9.0, 9.0, true)))
  }
}
