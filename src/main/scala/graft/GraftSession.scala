package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every main runs on.
  *
  * The reference (GoogleCloudPlatform/DataflowJavaSDK, README.md:19)
  * defers all physical planning to the Dataflow service; our equivalent
  * of that service is Catalyst + AQE (on by Spark's own defaults), so the
  * session is where the "runner" configuration lives.
  *
  * `SPARK_GRAFT_CPUS` (default 32) sets both the local core count and
  * the shuffle partition count.
  */
object GraftSession {

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS), which the vectorized reader
      // rejects; reading it as long is the documented path (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // transformWithState (the trigger gates) needs RocksDB: the default
      // HDFS-backed store rejects multiple column families
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
