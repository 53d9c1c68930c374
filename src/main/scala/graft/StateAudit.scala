package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.StateMetrics

/** State-size audit for the custom-engine replay gates (VERDICT r12
  * task 7): runs the trigger/session gate family at a fixture scale,
  * collects each run's peak RocksDB state rows + memory (recorded by
  * the gates via [[graft.queries.StateMetrics]]), and appends a
  * markdown table to STATE.md. The interesting read is ACROSS scales:
  * the adaptive replay grid pins batch counts, so peak state rows must
  * be ~flat from sf0.01 to sf1 (state ∝ keys × open windows) while the
  * data underneath grows 100× — the measured form of the engines'
  * 100 TB claim.
  *
  * Usage: runMain graft.StateAudit <sfDir> <stateMdPath> [label]
  */
object StateAudit {

  /** The trigger/session engine gates — the custom engines whose state
    * the audit is about. */
  val gateNames: Seq[String] = Seq(
    "q_trigger_panes", "q_trigger_algebra", "q_trigger_composite",
    "q_trigger_never", "q_trigger_sliding", "q_trigger_restart",
    "q_wallclock_boundaries",
    "q_session_engine", "q_session_engine_early", "q_session_engine_late",
    "q_session_restart")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val label = if (args.length > 2) args(2) else sfDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StateMetrics.drain()
    val rows = gateNames.map { name =>
      StateMetrics.setLabel(name)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll()
      // a gate may run several queries (the restart gates run two) —
      // peaks are max'd across recordings, batches SUMMED (the gate
      // really ran that many micro-batches end to end)
      val peaks = StateMetrics.drain().filter(_.label == name)
      val pr = if (peaks.isEmpty) 0L else peaks.map(_.peakRows).max
      val pm = if (peaks.isEmpty) 0L else peaks.map(_.peakMemBytes).max
      val nb = peaks.map(_.batches).sum
      f"| $name | $nb | $pr | ${pm / 1024.0}%.1f | $sec%.1f |"
    }
    val table =
      (s"\n### State audit @ $label\n\n" +
        "| gate | batches | peak state rows | peak state KiB | wall s |\n" +
        "|---|---|---|---|---|\n" +
        rows.mkString("\n") + "\n")
    val p = Paths.get(outPath)
    val prev = if (Files.exists(p)) Files.readString(p) else ""
    // same-label reruns REPLACE their section instead of appending a
    // duplicate (ADVICE r13: repeated runs silently contradicted each
    // other): drop everything from this label's header to the next
    // `### ` header (or EOF), then append the fresh table
    val header = s"### State audit @ $label"
    val cleaned = {
      val i = prev.indexOf(header)
      if (i < 0) prev
      else {
        val rest = prev.substring(i + header.length)
        val j = rest.indexOf("\n### ")
        val tail = if (j < 0) "" else rest.substring(j + 1)
        prev.substring(0, i) + tail
      }
    }
    Files.writeString(p, cleaned + table)
    println(table)
    spark.stop()
  }
}
