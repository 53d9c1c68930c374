package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming Holt-Winters: sealed points must equal the batch
  * TimeSeries.holtWinters rows BIT FOR BIT across multi-batch
  * out-of-order delivery — the three-variable chain plus the m-slot
  * warmup makes any sealing mistake compound through level, trend, AND
  * the seasonal vector, so exact equality is the sharpest test. */
class HoltWintersStreamSpec extends SparkSpec {
  import spark.implicits._

  private type Pt = (String, Timestamp, Double, Double, Double, Double,
    Option[Double])

  test("sealed stream points equal batch holtWinters across out-of-order batches") {
    val m = 4
    // one observation per hourly slot, 4-dp-exact values
    val ys = (0 until 24).map(i => ((i * 48271 % 89) / 4.0) + (i % m) * 3.0)
    val events = ys.zipWithIndex.map { case (y, i) =>
      ("g", new Timestamp(i * 3600000L), y)
    }
    val batch = graft.operators.TimeSeries.holtWinters(
        events.map { case (k, ts, y) => (k, ts.getTime / 3600000L, y) }
          .toDF("k", "slot", "v"),
        "k", "slot", "v", period = m,
        alpha = 0.25, beta = 0.125, gamma = 0.25)
      .select(col("k"), to_timestamp(col("slot") * 3600).as("slot_ts"),
        col("v"), col("level"), col("trend"), col("seasonal"), col("forecast"))
      .as[Pt].collect().toSet

    // middle third arrives LAST — warmup and chain must still seal in order
    val third = events.length / 3
    val batches = Seq(events.take(third),
      events.slice(2 * third, events.length),
      events.slice(third, 2 * third))
    val input = MemoryStream[(String, Timestamp, Double)](9241, spark, None)
    val pts = HoltWintersStream.smoothing(
      input.toDS().toDF("k", "ts", "v"), "k", "ts", "v",
      period = m, lateness = "48 hours")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hw").toString
    val q = pts.writeStream.format("memory").queryName("hw_pts")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      // advance the watermark far enough to seal everything
      Seq(1L, 2L).foreach { k =>
        input.addData(Seq(("g", new Timestamp((100 + k * 100) * 3600000L), 0.0)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("hw_pts")
      .filter(col("slot_ts") <= new Timestamp(23 * 3600000L))
      .as[Pt].collect().toSet
    assert(got === batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("the m warm rows emit together only once the m-th slot seals") {
    val input = MemoryStream[(String, Timestamp, Double)](9242, spark, None)
    val pts = HoltWintersStream.smoothing(
      input.toDS().toDF("k", "ts", "v"), "k", "ts", "v",
      period = 3, lateness = "0 seconds")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hw2").toString
    val q = pts.writeStream.format("memory").queryName("hw_warm")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // watermark still behind the third slot: still warming, no output
      input.addData(Seq(("g", new Timestamp(0L), 1.0),
        ("g", new Timestamp(3600000L), 2.0),
        ("g", new Timestamp(2 * 3600000L), 0.0)))
      q.processAllAvailable()
      assert(spark.table("hw_warm").count() === 0L)
      // seal everything: the three warm rows emit TOGETHER (NULL
      // forecast), later slots join the chain (non-NULL forecast)
      input.addData(Seq(("g", new Timestamp(3 * 3600000L), 9.0)))
      q.processAllAvailable()
      input.addData(Seq(("g", new Timestamp(100 * 3600000L), 0.0)))
      q.processAllAvailable()
      input.addData(Seq(("g", new Timestamp(200 * 3600000L), 0.0)))
      q.processAllAvailable()
      val warmRows = spark.table("hw_warm").filter(col("forecast").isNull)
      assert(warmRows.count() === 3L)
      assert(spark.table("hw_warm").filter(col("forecast").isNotNull).count() >= 1L)
    } finally q.stop()
  }

  test("a checkpoint restart inside the warmup keeps the warm slots") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hw-rs").toString
    val out = java.nio.file.Files.createTempDirectory("graft-hw-rs-out").toString
    def ts(h: Long) = new Timestamp(h * 3600000L)

    // same source instance across restarts; file sink (the memory sink
    // cannot recover from a checkpoint)
    val input = MemoryStream[(String, Timestamp, Double)](9243, spark, None)
    def start() = HoltWintersStream.smoothing(
        input.toDS().toDF("k", "ts", "v"), "k", "ts", "v",
        period = 3, lateness = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def emitted() = spark.read
      .schema(org.apache.spark.sql.Encoders.product[HoltWintersStream.HwPoint].schema)
      .parquet(out).as[Pt].collect()

    val q1 = start()
    try {
      input.addData(Seq(("g", ts(0), 1.0), ("g", ts(1), 2.0), ("g", ts(2), 4.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // wm = hour 2: slots 0 and 1 sealed, still warming — nothing emitted
    assert(emitted().isEmpty)

    val q2 = start()
    try {
      input.addData(Seq(("g", ts(5), 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    // slot 2 seals after the restart: the two warm slots from the
    // state store and the third emit together, l0 = left-fold mean
    val l0 = ((0.0 + 1.0) + 2.0 + 4.0) / 3
    assert(emitted().toSet == Seq(0L -> 1.0, 1L -> 2.0, 2L -> 4.0).map {
      case (h, x) => ("g", ts(h), x, l0, 0.0, x - l0, None)
    }.toSet)
  }
}
