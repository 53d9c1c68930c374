package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-skew stress harness (dev tool, not a driver gate — VERDICT
  * r13 task 4's measurement half; the correctness half is
  * q_skew_planted). The natural fixtures' heaviest keys sit near
  * 1/|keys| of the rows, so the salt arithmetic has only ever been
  * timed against BALANCED keys. This main plants a key owning ~50% of
  * lineitem (every even orderkey remaps to suppkey −1) and times the
  * remediation paths against their naive shapes at one fixture scale:
  *
  *  1. `agg_naive`    — groupBy(k).sum, map-side partial aggregation
  *                      only (Spark's default skew answer for algebraic
  *                      aggregates: the hot key collapses to one partial
  *                      per map task BEFORE the shuffle, so this is
  *                      expected to be fine — recording that fact is the
  *                      point, not assuming it);
  *  2. `agg_salted`   — Combine.sumWithHotKeyFanout(fanout=32), the
  *                      two-stage salted form (Beam's withHotKeyFanout);
  *  3. `join_naive`   — planted lineitem ⋈ a 100k-row synthetic dim on
  *                      the hot key with broadcast DISABLED and AQE
  *                      skew-join ON (the 100 TB shape where the dim
  *                      outgrows broadcast: one reducer owns 50% of the
  *                      probe side unless AQE splits it);
  *  4. `join_aqe_off` — the same join with AQE skew-split disabled: the
  *                      unmitigated straggler, the baseline both
  *                      remedies are judged against;
  *  5. `join_salted`  — Grouping.saltedJoin(salt=32), AQE skew split
  *                      off: the explicit remedy must recover the
  *                      straggler loss on its own.
  *
  * Each path runs twice (warm codegen) and reports the best; results
  * print as one JSON line for SCALING.md. Every path's row count and
  * the hot key's exact DECIMAL sum are cross-checked between naive and
  * remediated forms — a fast-but-wrong salt is a failure, not a win.
  *
  * Usage: runMain graft.SkewStress <sfDir>
  */
object SkewStress {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Best-of-2 wall seconds for a full noop-sink execution. */
  private def bench(df: => DataFrame): Double =
    (1 to 2).map { _ =>
      time(df.write.format("noop").mode("overwrite").save())._1
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.get()

    val planted = Tables(spark, sfDir).lineitem.select(
      when(pmod(col("l_orderkey"), lit(2)) === 0, lit(-1L))
        .otherwise(col("l_suppkey")).as("k"),
      col("l_quantity"))

    // --- aggregation paths -------------------------------------------
    val aggNaive = bench(
      planted.groupBy(col("k"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum")))
    val aggSalted = bench(
      graft.operators.Combine.sumWithHotKeyFanout(
        planted, Seq("k"), col("l_quantity").cast("decimal(18,4)"), fanout = 32))
    // exactness cross-check: the hot key's DECIMAL sum must agree
    val hotNaive = planted.filter(col("k") === -1L)
      .agg(sum(col("l_quantity").cast("decimal(18,4)"))).head().getDecimal(0)
    val hotSalted = graft.operators.Combine.sumWithHotKeyFanout(
        planted, Seq("k"), col("l_quantity").cast("decimal(18,4)"), fanout = 32)
      .filter(col("k") === -1L).head().getDecimal(0)
    require(hotNaive.compareTo(hotSalted) == 0,
      s"salted sum diverged on the hot key: $hotSalted vs $hotNaive")

    // --- join paths ---------------------------------------------------
    // a dim big enough that production would not broadcast it; keys
    // cover the planted key space (suppkeys and the −1 hot key)
    val dim = spark.range(-1L, 100000L).select(
      col("id").as("k"), (col("id") % 97).as("dim_payload"))
    def shuffleJoin(l: DataFrame): DataFrame =
      l.hint("shuffle_hash").join(dim.hint("shuffle_hash"), Seq("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("dim_payload")).as("s"))
    def withConf[A](kvs: (String, String)*)(f: => A): A = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val joinNaive = withConf(noBroadcast) { bench(shuffleJoin(planted)) }
    val joinAqeOff = withConf(noBroadcast,
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      bench(shuffleJoin(planted))
    }
    val joinSalted = withConf(noBroadcast,
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      bench(
        graft.operators.Grouping.saltedJoin(planted, dim, Seq("k"), salt = 32)
          .groupBy(col("k")).agg(count(lit(1)).as("n"),
            sum(col("dim_payload")).as("s")))
    }
    // exactness cross-check on the join row counts (inner join: every
    // planted row matches exactly one dim row)
    val nPlanted = planted.count()
    val nSalted = withConf(noBroadcast) {
      graft.operators.Grouping.saltedJoin(planted, dim, Seq("k"), salt = 32).count()
    }
    require(nSalted == nPlanted,
      s"salted join row count diverged: $nSalted vs $nPlanted")

    println(
      s"""{"metric":"skew_planted","sf":"$sfDir","rows":$nPlanted,""" +
        s""""agg_naive":$aggNaive,"agg_salted":$aggSalted,""" +
        s""""join_naive_aqe":$joinNaive,"join_aqe_off":$joinAqeOff,""" +
        s""""join_salted":$joinSalted}""")
    spark.stop()
  }
}
