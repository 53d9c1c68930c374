package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic ordered-file replay for the streaming driver gates.
  *
  * A feed directory holds ONE single-file parquet per intended
  * micro-batch, with strictly increasing modification times, so a file
  * stream with `maxFilesPerTrigger=1` replays the chunks in exactly the
  * written order — Spark's file source lists oldest-first. Cutting the
  * chunks on an epoch-aligned time grid makes the watermark sequence
  * (max event time over prior batches, minus the configured delay) a
  * pure function of the fixture, which is what lets DuckDB replay the
  * gates' sealed outputs relationally.
  */
private[queries] object ReplayFeed {

  private lazy val scratchBase: Path = {
    val base = Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      try Files.walk(base).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      catch { case _: Throwable => () }
    }))
    base
  }

  /** Fresh scratch dir per call under one per-JVM base that a shutdown
    * hook deletes recursively — repeated Bench/Verify runs must not
    * accumulate feeds, checkpoints or table copies in the temp
    * filesystem. Shared by every query module that needs scratch space. */
  def tmp(prefix: String): String =
    Files.createTempDirectory(scratchBase, prefix).toString

  /** Write an ordered feed in ONE Spark job (guide §1.2): every row of
    * `rows` carries an integer sequence in its `__seq` column; each
    * populated sequence value becomes exactly one single-file parquet,
    * renamed to f000.. in ascending sequence order with strictly
    * increasing modification times (2 s apart).
    *
    * Replaces the per-chunk filter+coalesce(1) write jobs AND the
    * per-chunk isEmpty probe jobs (one driver job each — a 12-file feed
    * paid ~24 jobs of pure harness latency per gate): the dynamic-
    * partition write computes every chunk, skips empty cells, and
    * commits all files in one pass. Replay order is untouched — file
    * NAMES and the explicitly-set modification times (assigned after
    * the write completes, in sequence order) are what the file source
    * sorts by. One-file-per-value invariant: the explicit partition
    * count pins the hash repartition (AQE never splits a user-pinned
    * exchange), so a sequence value's rows always land in one task and
    * the partitioned write opens one file per value per task. */
  def writeSeqFeed(rows: DataFrame, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    require(rows.columns.contains("__seq"),
      "writeSeqFeed expects a __seq column assigning each row's chunk")
    val staged = tmp("stage")
    rows.repartition(32, col("__seq"))
      .write.partitionBy("__seq").mode("overwrite").parquet(staged)
    val base = System.currentTimeMillis() - 3600000L
    val listing = Files.list(Paths.get(staged))
    val seqDirs =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("__seq="))
        .map(p => (p.getFileName.toString.stripPrefix("__seq=").toLong, p))
        .toSeq.sortBy(_._1)
      finally listing.close()
    seqDirs.zipWithIndex.foreach { case ((_, seqDir), i) =>
      val ls = Files.list(seqDir)
      val parts =
        try ls.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        finally ls.close()
      require(parts.size == 1,
        s"feed chunk ${seqDir.getFileName} wrote ${parts.size} files — the " +
          "one-file-per-sequence replay invariant is broken")
      val target = Paths.get(dir, f"f$i%03d.parquet")
      Files.move(parts.head, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
    }
  }

  /** Run `body` under the replay gates' session conf, every key
    * restored after (even on failure), so no gate leaks a setting into
    * later queries of the session:
    *
    *  - `spark.sql.shuffle.partitions` = 8. The replay gates stream a
    *    HANDFUL of keys, and a stateful micro-batch pays RocksDB instance
    *    open/commit per shuffle partition regardless of rows — at the
    *    session default of 32, the 5-key gates spend roughly half their
    *    wall-clock on empty state stores (measured at sf0.1:
    *    q_trigger_never 18.9 → 10.4 s, q_stream_ewma 13.3 → 7.4 s at 8;
    *    4 buys little more). This is HARNESS sizing, not an operator
    *    property: a production deployment sizes stateful shuffle
    *    partitions to its key cardinality — exactly the knob this pins
    *    for the replay fixtures' key counts. Safe because each gate runs
    *    its query inside the pinned scope on a fresh checkpoint, and the
    *    driver executes queries sequentially.
    *  - RocksDB changelog checkpointing on: per micro-batch commit,
    *    upload only the batch's change log instead of a full RocksDB
    *    snapshot (zip of SST + metadata files per store). The replay
    *    gates run a few micro-batches × 8 stores with a handful of keys
    *    each, so the per-commit snapshot machinery dominated state-commit
    *    time; production-side this is the documented low-latency
    *    checkpoint mode and restart semantics are unchanged (snapshot +
    *    changelog replay) — which the q_trigger_restart /
    *    q_session_restart / q_stream_ewma_restart / q_stream_cdc_restart
    *    gates prove against unchanged oracles. The session byte budgets
    *    are calibrated against the memtable-arena accounting this mode
    *    reports (see SessionGateQueries.sessionBudget).
    *  - `numRecentProgressUpdates` = 1000: recentProgress is a RING
    *    BUFFER (default 100 entries), and a gate's state peak must never
    *    fall off its back before [[StateMetrics.record]] reads it.
    *  - `keepNoDataBatches` DEFAULTS TO TRUE — the SAFE setting: a gate
    *    whose output seals only in the trailing no-data micro-batch is
    *    silently TRUNCATED when that batch is skipped, and the oracle is
    *    the only net that catches it (VERDICT r14 item 8 — exactly how
    *    three opt-ins were found, 4 rows short). Skipping the batch saves
    *    one batch of fixed overhead per gate, so every replay gate whose
    *    flush-row design provably lands its final output in a real batch
    *    opts OUT explicitly at its call site (each opt-out is
    *    oracle-proven); a NEW gate gets the safe default until its author
    *    proves the skip. */
  def withGatePartitions[T](s: org.apache.spark.sql.SparkSession,
      keepNoDataBatches: Boolean = true)(body: => T): T = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true",
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000",
      "spark.sql.streaming.noDataMicroBatches.enabled"
        -> keepNoDataBatches.toString)
    val olds = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Day-aligned adaptive cell size: the smallest whole-day cell that
    * covers `df`'s `tsCol` span in ≤ ~targetCells grid cells (one extra
    * can appear from epoch alignment). A FIXED cell size makes a replay
    * gate's micro-batch count — and so its cost — scale with the
    * stream's TIME span (the sf1 sweep's 0.75–1.06 exponents measured
    * exactly that harness geometry); deriving the cell from the span
    * pins every gate to a constant number of batches at any sf. Gates
    * whose oracles encode the grid recompute the identical integer
    * arithmetic in SQL: cellDays = (spanDays + target − 1) / target. */
  def adaptiveCellUs(df: DataFrame, tsCol: String, targetCells: Int): Long =
    adaptiveCellBounds(df, tsCol, targetCells)._1

  /** [[adaptiveCellUs]] plus the (loUs, hiUs) bounds it already scanned:
    * one agg job instead of the 2–3 separate bounds scans the gates
    * previously paid per feed build (guide §1.2 — don't recompute what
    * one pass already produced). */
  def adaptiveCellBounds(df: DataFrame, tsCol: String,
                         targetCells: Int): (Long, Long, Long) = {
    val DayUs = 86400000000L
    val b = df.agg(min(unix_micros(col(tsCol))).as("lo"),
      max(unix_micros(col(tsCol))).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val spanDays = hi / DayUs - lo / DayUs + 1
    (((spanDays + targetCells - 1) / targetCells) * DayUs, lo, hi)
  }

  /** The epoch-aligned grid-cell index of `tsCol` under `cellUs` — the
    * `__seq` expression for a plain time-ordered feed. */
  def cellSeq(tsCol: String, cellUs: Long): org.apache.spark.sql.Column =
    (unix_micros(col(tsCol)) / cellUs).cast("long")
}
