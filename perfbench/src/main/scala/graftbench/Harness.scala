package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry}

/** Runs one workload in a closed loop with one client and writes the raw
  * measurements as JSON; `perfbench/run.py` turns them into metrics.
  *
  * Phases: set-up, once and timed from JVM start (session start, one
  * warm-up execution of every workload query, footer reads). Then timed
  * passes over the workload in a seed-shuffled order until `seconds` have
  * elapsed, at least three. With `trace 1`, odd passes run with the tracing
  * listeners attached and even passes without, at least two of each after
  * the first, so the overhead of tracing is measured in the same run. Last, outside
  * every timed region, the result of each query's latest timed execution
  * is written for the DuckDB oracle check.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace, sf,
  * cpus, work, report, and optionally passes (a fixed pass count instead
  * of `seconds`), queries (a comma-separated list instead of the
  * workload's) and oracle-out. */
object Harness {
  val ExecKey = "graftbench.exec"
  val PhaseKey = "graftbench.phase"

  private val EffectiveConf = Seq("spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.maintenanceInterval")

  private val FixtureTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def session(cpus: Int, work: String): SparkSession = {
    // The session config graft.Bench runs with; the two
    // directory settings only keep Spark's files inside the work dir.
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Executes the whole plan, as graft.Bench does: the noop sink keeps
    * every projection, sort and aggregate that count() would prune. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread: driver, executors, GC, JIT). */
  private def cpuNs(): Long = osBean.getProcessCpuTime

  /** Milliseconds the JIT compiler threads have spent compiling. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes loaded so far; Spark's code generator loads one per
    * generated class it compiles (a miss in its cache). */
  private def classesLoaded(): Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"unpaired argument ${other.mkString(" ")}")
    }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val sf = args("sf")
    val cpus = args("cpus").toInt
    val work = args("work")
    val fixedPasses = args.get("passes").map(_.toInt)
    val names = args.get("queries").map(_.split(",").toSeq)
      .getOrElse(Workloads.queries(workload))
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered in SparkEntry.queries: ${unknown.mkString(", ")}")
    val fns = names.map(n => n -> registry(n))

    val failures = ArrayBuffer.empty[Map[String, Any]]

    // ---- set-up, once, counted from JVM start
    val preMainS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val t1 = System.nanoTime()
    // warm-up at the timed fixture: a smaller one plans differently (join
    // strategies, partition counts), so its generated code would still be
    // compiled inside the first timed pass
    fns.foreach { case (name, fn) =>
      try force(fn(spark, sf))
      catch { case e: Throwable =>
        failures += Map("phase" -> "warmup", "query" -> name, "error" -> describe(e))
      } finally Caches.releaseAll()
    }
    val t2 = System.nanoTime()
    // schema inference reads each fixture's footer
    FixtureTables.foreach(t => spark.read.parquet(s"$sf/$t.parquet"))
    val t3 = System.nanoTime()
    val setup = Map("pre_main_s" -> preMainS, "start_s" -> (preMainS + (t1 - t0) / 1e9),
      "warm_s" -> (t2 - t1) / 1e9, "footers_s" -> (t3 - t2) / 1e9,
      "total_s" -> (preMainS + (t3 - t0) / 1e9))
    val sc = spark.sparkContext

    // ---- timed passes
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val tracer = new Tracer
    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
    ListenerBus.drain(sc)
    progress.clear()
    System.gc()
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis()
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val deadline = baseNs + args("seconds").toLong * 1000000000L
    val executions = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // each query's result from its latest successful timed execution
    val results = scala.collection.mutable.Map.empty[String, DataFrame]
    var pass = 0
    def more = fixedPasses match {
      case Some(n) => pass < n
      // at least three passes, so that the median leaves out one slow
      // pass (the first, or the second of a streaming gate, where a burst
      // of compilation lands); a traced run compares two traced passes
      // with two untraced ones that follow the first
      case None => pass < (if (trace) 5 else 3) || System.nanoTime() < deadline
    }
    while (more) {
      val traced = trace && pass % 2 == 1
      if (traced) attach(true)
      val order = new Random(seed * 1000003L + pass).shuffle(fns)
      var busyS = 0.0
      var cpuS = 0.0
      order.foreach { case (name, fn) =>
        val id = s"p$pass/$name"
        Current.id = id
        sc.setLocalProperty(ExecKey, id)
        sc.setLocalProperty(PhaseKey, "build")
        val (jit0, cls0) = (jitMs(), classesLoaded())
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        var t1 = t0
        var error: Option[String] = None
        try {
          val df = fn(spark, sf)
          t1 = System.nanoTime()
          sc.setLocalProperty(PhaseKey, "exec")
          force(df)
          results(name) = df
        } catch { case e: Throwable => error = Some(describe(e)) }
        val t2 = System.nanoTime()
        val c2 = cpuNs()
        if (t1 == t0) t1 = t2
        sc.setLocalProperty(ExecKey, null)
        sc.setLocalProperty(PhaseKey, null)
        Caches.releaseAll()
        ListenerBus.drain(sc)
        busyS += (t2 - t0) / 1e9
        cpuS += (c2 - c0) / 1e9
        executions += Map("id" -> id, "pass" -> pass, "query" -> name,
          "traced" -> traced, "start_ms" -> epochMs(t0), "build_end_ms" -> epochMs(t1),
          "end_ms" -> epochMs(t2), "build_s" -> (t1 - t0) / 1e9,
          "exec_s" -> (t2 - t1) / 1e9, "latency_s" -> (t2 - t0) / 1e9,
          "cpu_s" -> (c2 - c0) / 1e9, "jit_ms" -> (jitMs() - jit0),
          "classes" -> (classesLoaded() - cls0),
          "ok" -> error.isEmpty, "error" -> error)
        error.foreach(e => failures += Map("phase" -> "timed", "query" -> name, "error" -> e))
      }
      Current.id = ""
      if (traced) attach(false)
      passes += Map("pass" -> pass, "traced" -> traced, "total_s" -> busyS, "cpu_s" -> cpuS)
      pass += 1
      System.gc()
    }
    val measuredS = (System.nanoTime() - baseNs) / 1e9
    val rssKb = peakRssKb()

    // ---- outputs for the oracle check, after the timed passes
    args.get("oracle-out").foreach { out =>
      names.foreach { name =>
        try results.get(name) match {
          case Some(df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          case None => sys.error("no timed execution succeeded")
        }
        catch { case e: Throwable =>
          failures += Map("phase" -> "oracle", "query" -> name, "error" -> describe(e))
        } finally Caches.releaseAll()
      }
      val oracles = SparkEntry.oracleSql.view.filterKeys(names.toSet).toMap
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), json.writeValueAsString(oracles))
    }

    // everything set explicitly, plus the effective value of the settings
    // the state store and the planner run with by default
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    } ++ EffectiveConf.flatMap(k => spark.conf.getOption(k).map(k -> _))
    val runtime = ManagementFactory.getRuntimeMXBean
    val report = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "sf" -> sf,
      "queries" -> names,
      "environment" -> Map(
        "cpus" -> cpus,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "master" -> sc.master,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "jvm_args" -> runtime.getInputArguments.asScala.filter(_.startsWith("-X")),
        "conf" -> conf),
      "setup" -> setup,
      "measured_s" -> measuredS,
      "peak_rss_kb" -> rssKb,
      "passes" -> passes,
      "executions" -> executions,
      "failures" -> failures,
      "stream_starts" -> progress.starts,
      "batches" -> progress.batches,
      "jobs" -> tracer.jobRows,
      "stages" -> tracer.stages,
      "plans" -> tracer.plans)
    Files.writeString(Paths.get(args("report")), json.writeValueAsString(report))
    spark.stop()
  }
}
