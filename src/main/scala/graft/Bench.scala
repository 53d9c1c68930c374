package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is reported in "errors" (and
  * excluded from the total) instead of being swallowed as a fast timing —
  * a regression must look like a failure, not a speedup. */
object Bench {
  /** keep executor cache flat across the full query sweep */
  private def releaseCaches(): Unit = Caches.releaseAll()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated subset for local iteration (the driver
    // never sets this — full sweep remains the default); resolved before
    // the session starts so a typo fails at once
    val selected = SparkEntry.subset(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.get()
    // Warm the session before timing: JVM/codegen warmup and the first
    // parquet-footer reads otherwise land entirely on whichever query runs
    // first (alphabetical), skewing its number by several seconds and
    // making round-over-round totals noisy (the same query swung 2s..25s
    // between rounds purely on Janino+JIT first-compile order). Run every
    // query once at the smallest fixture so each plan's codegen shapes are
    // compiled before any timing starts — standard steady-state bench
    // hygiene. Best effort — a warmup failure must not kill the report
    // (per-query failures at the REAL sf are what the errors field is for).
    // forcing: write to the noop sink — executes the FULL plan. count()
    // let Catalyst prune per-row projections (a select-only query timed
    // as a bare row count of the scan), drop final sorts, AND prune
    // aggregate expressions (a row count only needs the group keys, so
    // even q1_agg's sums were never computed); the noop sink keeps every
    // projection, sort, and expression while discarding rows at the
    // sink, and measured overhead of the sink itself is ~zero (a 1-row
    // noop write is FASTER than its count()). (Methodology fix in round
    // 7 — totals before/after are not comparable.)
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try force(fn(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name skipped: $e")
      } finally releaseCaches()
    }
    // and touch the real-sf parquet footers so the first timed query
    // doesn't absorb the file-listing/footer reads either
    try {
      val tables = Tables(spark, sfDir)
      Tables.names.foreach(t => tables.t(t).count())
    } catch {
      case e: Throwable => System.err.println(s"[bench] footer warmup skipped: $e")
    }
    // drain warmup garbage now so a major collection doesn't land inside
    // some arbitrary timed query (observed as a 20s+ one-off on an
    // otherwise sub-2s query)
    System.gc()
    var errors = List.empty[(String, String)]
    // Two timed sweeps, report the per-query MINIMUM. A single pass is at
    // the mercy of whatever else the host is doing: the same sub-second
    // query has shown 10-20s one-off spikes (GC, page-cache eviction,
    // co-tenant load) between otherwise identical runs. Steady-state
    // best-of-N is standard bench practice; N=2 keeps wall time bounded
    // (the whole sweep is ~1 min at sf0.1).
    def sweep(skip: Set[String]): Map[String, Double] =
      selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        if (skip(name)) None
        else {
          val t0 = System.nanoTime()
          try {
            force(fn(spark, sfDir))
            Some(name -> (System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: $e")
              errors ::= (name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
              None
          } finally releaseCaches()
        }
      }.toMap
    val pass1 = sweep(Set.empty)
    System.gc()
    val pass2 = sweep(errors.map(_._1).toSet)
    val results = pass1.keys.toSeq.sorted.map { name =>
      name -> math.min(pass1(name), pass2.getOrElse(name, Double.MaxValue))
    }
    val q = SparkEntry.jsonString _
    val qs = results.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.reverse.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cpus = spark.sparkContext.defaultParallelism
    // the effective session config the timings ran with (Spark's default
    // where the session left a key unset)
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
      "spark.sql.session.timeZone", "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.noDataMicroBatches.enabled")
      .map(k => s"${q(k)}:${q(spark.conf.get(k))}").mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"sf":${q(sfDir)},"cpus":$cpus,"conf":$conf}""")
    spark.stop()
  }
}
