package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Contracts of [[ReplayRunner]] at the sf0.001 fixture: a replay gate
  * leaves the session conf as it found it, and a run split by a real
  * checkpoint restart equals the uninterrupted run. */
class ReplayRunnerSpec extends SparkSpec {

  private val dir = "perfbench/fixtures/sf0.001"

  test("a replay gate restores every session conf the runner pins") {
    // sentinels differ from every value withGatePartitions pins, so a key
    // left set by the gate cannot pass by coinciding with its old value
    val sentinels = Seq(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "false",
      "spark.sql.streaming.numRecentProgressUpdates" -> "77",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")
    val olds = sentinels.map { case (k, _) => k -> spark.conf.getOption(k) }
    sentinels.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      SparkEntry.queries("q_trigger_panes")(spark, dir).count()
      sentinels.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"$k leaked out of the gate")
      }
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a run split by a checkpoint restart equals the uninterrupted run") {
    Seq("q_trigger_panes" -> "q_trigger_restart",
      "q_stream_ewma" -> "q_stream_ewma_restart").foreach { case (plain, split) =>
      val q = SparkEntry.queries
      val diff = QueryUtil.symmetricDiffCount(q(plain)(spark, dir),
        q(split)(spark, dir)).head().getLong(0)
      assert(diff == 0L, s"$split differs from $plain in $diff rows")
    }
  }
}
