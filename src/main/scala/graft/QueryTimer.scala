package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{count, lit}

/** Dev tool: time a subset of SparkEntry queries without the full Bench
  * sweep, in ONE session. Usage:
  *   runMain graft.QueryTimer <sfDir> <query...> [--explain <outDir> <suffix>]
  * prints one `[timer]` line per query; `--explain` also writes each
  * query's formatted plan to <outDir>/<query>_<suffix>.txt (the
  * plans/r14 naming).
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val flag = args.indexOf("--explain")
    val (rest, explainTo) =
      if (flag < 0) (args.toSeq, None)
      else {
        require(args.length >= flag + 3, "--explain needs <outDir> <suffix>")
        (args.take(flag).toSeq ++ args.drop(flag + 3), Some((args(flag + 1), args(flag + 2))))
      }
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val names = rest.drop(1)
    val fns = SparkEntry.subset(Some(names.mkString(",")))
    val spark = GraftSession.get()
    explainTo.foreach { case (outDir, _) => Files.createDirectories(Paths.get(outDir)) }
    names.foreach { name =>
      val fn = fns(name)
      explainTo.foreach { case (outDir, suffix) =>
        val path = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.writeString(path, fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        println(s"[plan] $name -> $path")
      }
      // row count observed ON the timed execution (an extra count() run
      // would double tool runtime AND report rows from a different
      // execution than the timed one — visible for hash-seeded queries)
      val obs = Observation()
      val t0 = System.nanoTime()
      // noop sink: full-plan execution (count() would prune projections)
      fn(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[timer] $name rows=${obs.get("rows")} time=$secs%.2f s")
      Caches.releaseAll()
    }
    spark.stop()
  }
}
