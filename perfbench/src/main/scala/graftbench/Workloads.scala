package graftbench

/** The benchmark's named workloads. Each is a list of `SparkEntry.queries`
  * names chosen to load one layer of the library; BENCHMARK.json and
  * perfbench/LAYERS.md say which layer and why. */
object Workloads {
  val queries: Map[String, Seq[String]] = Map(
    "batch_sql" -> Seq("q1_agg", "q_wordcount", "q_join_q4", "q_join_q6",
      "q_join_q12", "q_join_q19", "q_fixed_window", "q_pivot", "q_grouping_sets",
      "q_kcore"),
    "stream_replay" -> Seq("q_trigger_restart"),
  )
}
