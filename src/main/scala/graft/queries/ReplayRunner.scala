package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one runner behind the replay streaming gates: an AvailableNow
  * query into a parquet sink, inside [[ReplayFeed.withGatePartitions]],
  * with its batch durations and state peak recorded, and optionally
  * split by a real checkpoint restart. The file replays and the
  * graft-redelivery broker gates (q_stream_redelivery, q_stream_ts_attr,
  * q_stream_broker) all run through it; a bounded broker replay is just
  * a bounded run.
  *
  * Two gates keep their own loop:
  *  - q_stream_cdc / q_stream_cdc_restart: the foreachBatch MERGE sink
  *    is started by StreamOps.writeStreamMerge itself (MergeStreamSpec
  *    shares it), so the gate drains that query; its restart reuses
  *    [[splitFeed]].
  *  - q_wallclock_panes: its processing-time timers need the wall
  *    clock, so the query runs on the default trigger while the gate
  *    polls the sink.
  *
  * Kept out of ReplayFeed.scala on purpose: profilers attribute every
  * Spark job whose call site is in that file to the feed writer, and the
  * runner's sink reads are not feed work. */
private[queries] object ReplayRunner {

  /** An ordered feed as a file stream: one file per micro-batch, oldest
    * first (see [[ReplayFeed]]). */
  def stream(s: SparkSession, schema: StructType, feed: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(feed)

  /** Run `first` over the first half of `feed`'s `*.parquet` files, by
    * name, then `second` (given `first`'s result) over the whole feed.
    * The second half is held out of the directory while `first` runs
    * and then moved back with its original names and modification
    * times, so the replay order is unchanged. */
  def splitFeed[A, B](feed: String)(first: => A)(second: A => B): B = {
    val all = ReplayFeed.listSorted(Paths.get(feed), _.endsWith(".parquet"))
    val split = all.size / 2
    require(split >= 1 && split < all.size,
      s"feed too small to split for the restart gate (${all.size} files)")
    val stage = Paths.get(ReplayFeed.tmp("replay_stage"))
    val held = all.drop(split)
    held.foreach(f => Files.move(f, stage.resolve(f.getFileName)))
    val a = first
    held.foreach(f => Files.move(stage.resolve(f.getFileName), f))
    second(a)
  }

  /** Run `query` (evaluated afresh for each phase) as an AvailableNow
    * append-mode parquet sink on a fresh checkpoint; return the sink's
    * output, read with the schema of the Dataset that wrote it (no
    * schema-inference job).
    *
    * `keepNoDataBatches` has no default (see
    * [[ReplayFeed.withGatePartitions]]): each gate states whether its
    * output needs the trailing no-data batch.
    *
    * With `restartFeed`, the run is interrupted by a REAL checkpoint
    * restart ([[splitFeed]]): a first query drains the visible half of
    * the feed and terminates, and a brand-new query object resumes from
    * the same checkpoint over the whole feed. Sources, offsets,
    * watermark and RocksDB state must all survive the round-trip for the
    * combined output to equal the uninterrupted run's. Both phases must
    * emit rows, or the split is degenerate and proves nothing.
    *
    * `onPeak` receives each phase's state peak directly (never via the
    * global StateMetrics buffer, so a concurrent gate's recording cannot
    * cross-talk into an inline budget assertion). A resumed query
    * restores the full open state, so a leak that shows only after the
    * restart is what phase 2's peak catches. When a callback is supplied,
    * a missing peak fails loudly instead of silently skipping the
    * assertion (ADVICE r13). */
  def run(s: SparkSession, keepNoDataBatches: Boolean,
          restartFeed: Option[String] = None,
          onPeak: Option[StateMetrics.Peak => Unit] = None)(
      query: => Dataset[_]): DataFrame =
      ReplayFeed.withGatePartitions(s, keepNoDataBatches) {
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
        splitFeed(feed) {
          val phase1 = s.read.schema(phase()).parquet(outDir).count()
          require(phase1 > 0,
            "restart gate: the first phase emitted nothing — the split point " +
              "is degenerate and the gate would not prove a mid-state restart")
          phase1
        } { phase1 =>
          val schema2 = phase() // fresh query object, same checkpoint
          val total = s.read.schema(schema2).parquet(outDir).count()
          require(total > phase1,
            "restart gate: the resumed query emitted nothing — the restart " +
              "did not continue the feed")
          schema2
        }
    }
    s.read.schema(schema).parquet(outDir)
  }
}
