package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one runner behind every file-replay streaming gate: an
  * AvailableNow query into a parquet sink, inside
  * [[ReplayFeed.withGatePartitions]], with its batch durations and state
  * peak recorded, and optionally split by a real checkpoint restart.
  *
  * Kept out of ReplayFeed.scala on purpose: profilers attribute every
  * Spark job whose call site is in that file to the feed writer, and the
  * runner's sink reads are not feed work. */
private[queries] object ReplayRunner {

  /** An ordered feed as a file stream: one file per micro-batch, oldest
    * first (see [[ReplayFeed]]). */
  def stream(s: SparkSession, schema: StructType, feed: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(feed)

  /** Run `query` (evaluated afresh for each phase) as an AvailableNow
    * append-mode parquet sink on a fresh checkpoint; return the sink's
    * output, read with the schema of the Dataset that wrote it (no
    * schema-inference job).
    *
    * With `restartFeed`, the run is interrupted by a REAL checkpoint
    * restart: the feed's second half is held out of the directory, a
    * first query drains the visible half and terminates, the held files
    * move back (original names and modification times, so replay order
    * is unchanged), and a brand-new query object resumes from the same
    * checkpoint. Sources, offsets, watermark and RocksDB state must all
    * survive the round-trip for the combined output to equal the
    * uninterrupted run's. Both phases must emit rows, or the split is
    * degenerate and proves nothing.
    *
    * `onPeak` receives each phase's state peak directly (never via the
    * global StateMetrics buffer, so a concurrent gate's recording cannot
    * cross-talk into an inline budget assertion). A resumed query
    * restores the full open state, so a leak that shows only after the
    * restart is what phase 2's peak catches. When a callback is supplied,
    * a missing peak fails loudly instead of silently skipping the
    * assertion (ADVICE r13). */
  def run(s: SparkSession, restartFeed: Option[String] = None,
          onPeak: Option[StateMetrics.Peak => Unit] = None)(
      query: => Dataset[_]): DataFrame =
      // no-data batch skipped: every file-replay gate's flush rows land
      // its final output in a REAL batch (oracle-proven per gate)
      ReplayFeed.withGatePartitions(s, keepNoDataBatches = false) {
    val outDir = ReplayFeed.tmp("replay_out"); val ckpt = ReplayFeed.tmp("replay_ckpt")
    def phase(): StructType = {
      val ds = query
      val q = ds.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      StateMetrics.debugDurations(q, outDir)
      val peak = StateMetrics.record(q)
      onPeak.foreach { cb =>
        require(peak.nonEmpty,
          "state-budget gate: no stateOperators metrics in the query's " +
            "progress events — the inline budget assertion cannot run " +
            "(did Spark's progress reporting change?)")
        cb(peak.get)
      }
      ds.schema
    }
    val schema = restartFeed match {
      case None => phase()
      case Some(feed) =>
        import scala.jdk.CollectionConverters._
        val listing = Files.list(Paths.get(feed))
        val all =
          try listing.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
            .sortBy(_.getFileName.toString)
          finally listing.close()
        // mid-feed split: both phases carry real work, and the state open
        // at the cut is non-trivial
        val split = all.size / 2
        require(split >= 1 && split < all.size,
          s"feed too small to split for the restart gate (${all.size} files)")
        val stage = Paths.get(ReplayFeed.tmp("replay_stage"))
        val held = all.drop(split)
        held.foreach(f => Files.move(f, stage.resolve(f.getFileName)))
        val schema1 = phase()
        val phase1 = s.read.schema(schema1).parquet(outDir).count()
        require(phase1 > 0,
          "restart gate: the first phase emitted nothing — the split point " +
            "is degenerate and the gate would not prove a mid-state restart")
        held.foreach(f => Files.move(stage.resolve(f.getFileName), f))
        val schema2 = phase() // fresh query object, same checkpoint
        val total = s.read.schema(schema2).parquet(outDir).count()
        require(total > phase1,
          "restart gate: the resumed query emitted nothing — the restart " +
            "did not continue the feed")
        schema2
    }
    s.read.schema(schema).parquet(outDir)
  }
}
