package graft.queries

import org.apache.spark.sql.streaming.StreamingQuery

/** State-store observability for the custom-engine replay gates
  * (VERDICT r12 task 7): the 100 TB claim for the trigger/session
  * engines is "state ∝ keys × open windows, never ∝ rows seen", which
  * was argued from the GC design but never measured. Every gate that
  * runs through [[ReplayRunner.run]] records the peak
  * RocksDB row count and memory across its micro-batches here (from
  * StreamingQueryProgress.stateOperators); `graft.StateAudit` sweeps
  * the gate family at a fixture scale and renders STATE.md, and
  * q_trigger_panes asserts a keys-proportional budget inline so a
  * state leak fails the correctness gate, not just the audit. */
object StateMetrics {

  /** Peak state footprint of one streaming-gate run. */
  final case class Peak(label: String, batches: Int, peakRows: Long,
                        peakMemBytes: Long)

  private val buf = scala.collection.mutable.ArrayBuffer.empty[Peak]
  @volatile private var label: String = ""

  /** Label subsequent recordings (set per query by the audit main). */
  def setLabel(l: String): Unit = label = l

  /** Record a terminated query's peak state metrics. The peak is ALSO
    * returned to the caller (ReplayRunner.run threads it to the gate's
    * budget callback) so inline assertions never read the global —
    * the buffer/label exist only for the sequential audit main. */
  def record(q: StreamingQuery): Option[Peak] = {
    val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
    val peak =
      if (ops.isEmpty) None
      else Some(Peak(label, q.recentProgress.length,
        ops.map(_.numRowsTotal).max, ops.map(_.memoryUsedBytes).max))
    // buffer ONLY in audit mode (StateAudit sets a label and drains per
    // gate) — unlabeled recordings were appended on every gate run and
    // never drained, an unbounded static collection over a long
    // Verify/test session (ADVICE r13)
    if (label.nonEmpty) synchronized { peak.foreach(buf += _) }
    peak
  }

  /** All recordings so far, clearing the buffer. */
  def drain(): Seq[Peak] = synchronized { val r = buf.toList; buf.clear(); r }

  /** Opt-in per-batch duration dump (SPARK_GRAFT_STREAM_DEBUG=1): one
    * line per micro-batch with the trigger's durationMs breakdown
    * (addBatch / walCommit / stateUpdate / commitOffsets …) — the
    * measurement hook behind the replay-gate overhead work (guide §1:
    * measure first). No-op unless the env var is set, so gates pay
    * nothing in normal runs. */
  def debugDurations(q: StreamingQuery, tag: String): Unit =
    if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1")) {
      import scala.jdk.CollectionConverters._
      q.recentProgress.foreach { p =>
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        System.err.println(
          s"[gate-debug] $tag batch=${p.batchId} rows=${p.numInputRows} $d")
      }
    }
}
