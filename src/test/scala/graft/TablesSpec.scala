package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Tables` declares each table's schema from its parquet footer instead
  * of letting Spark infer it with a job: the declared schema must be
  * exactly the inferred one, for the driver's fixtures and for
  * Spark-written table directories, and building a table frame must run
  * no Spark job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "perfbench/fixtures/sf0.001", "perfbench/fixtures/sf0.01")
    .filter(d => Files.isDirectory(Paths.get(d)))

  test("the footer schema of every fixture table equals the inferred schema") {
    assert(fixtureDirs.nonEmpty, "no fixture directory present — nothing compared")
    // the conf Tables.events reads under: events.ts may be TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one inference job per table: run them four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val compared = Future.traverse(for (d <- fixtureDirs; t <- Tables.names) yield (d, t)) {
        case (d, t) => Future {
          (s"$d/$t", Tables(spark, d).t(t).schema, spark.read.parquet(s"$d/$t.parquet").schema)
        }
      }
      for ((table, declared, inferred) <- Await.result(compared, 2.minutes))
        assert(declared == inferred, s"$table: declared $declared, inferred $inferred")
    } finally pool.shutdown()
  }

  test("a Spark-written table directory reads with its inferred schema") {
    val dir = Files.createTempDirectory("graft-tables-").toString
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view"),
      (Timestamp.valueOf("2024-01-01 01:30:00"), 2L, "click"),
      (Timestamp.valueOf("2024-01-02 12:00:00"), 3L, "view"))
    rows.toDF("ts", "user_id", "event_type").repartition(2)
      .write.parquet(s"$dir/events.parquet")
    val events = Tables(spark, dir).events
    val inferred = spark.read.parquet(s"$dir/events.parquet")
    assert(events.schema == inferred.schema)
    assertInAnyOrder(events.collect().toSeq, inferred.collect().toSeq)
  }

  test("building fixture frames runs no Spark job") {
    val dir = fixtureDirs.headOption.getOrElse(fail("no fixture directory present"))
    val sentinel = "tables-spec-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          sentinelSeen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val tables = Tables(spark, dir)
      tables.lineitem.schema
      tables.events.schema
      // the bus delivers in order: once the sentinel job is seen, every
      // job the builds started has been counted
      spark.sparkContext.setJobGroup(sentinel, sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(sentinelSeen.await(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() == 0, s"building the frames ran ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a non-local path or a directory without part files fails") {
    val empty = Files.createTempDirectory("graft-tables-empty-").toString
    intercept[IllegalArgumentException](Tables.footerSchema(spark, empty))
    intercept[IllegalArgumentException](
      Tables.footerSchema(spark, "hdfs://namenode/t.parquet"))
  }
}
