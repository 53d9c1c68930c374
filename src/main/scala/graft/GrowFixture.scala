package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Organic-growth fixture scaler (dev tool, not a driver gate) — the
  * complementary scale axis to [[Stress.blowUp]]'s worst-case
  * duplicate-dense densification: grow sf0.1 into an sf1-equivalent
  * corpus the way REAL data grows. New unique keys reference new
  * unique dimension rows (join fan-out constant, key cardinality
  * ×factor), the event stream extends in TIME (each copy shifts one
  * horizon later — ×factor slots/windows/sessions at unchanged
  * density, where the stress blow-up multiplies per-slot density at
  * unchanged slot count), documents mutate heavily (every 3rd token —
  * deliberately NOT near-dups, so candidate structures grow linearly,
  * not quadratically), and embeddings drift below the near-dup
  * thresholds. Deterministic, seed-free (pure key arithmetic).
  *
  * Usage: runMain graft.GrowFixture [baseDir] [outDir] [factor]
  * Then:  SPARK_GRAFT_SF_DIR=outDir runMain graft.Bench
  * Per-query exponents vs the sf0.1 baseline land in SCALING.md §sf1.
  */
object GrowFixture {

  /** `factor` copies of every row, numbered by a `copy` column 0 until
    * factor (copy 0 is the original). */
  private[graft] def copies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))

  /** `factor` copies of every row, each key column re-keyed to
    * key·factor + copy. */
  private[graft] def rekey(df: DataFrame, factor: Int, keys: String*): DataFrame =
    keys.foldLeft(copies(df, factor)) { (d, k) =>
      d.withColumn(k, col(k) * factor + col("copy"))
    }.drop("copy")

  /** Write `df` as the fixture table `dir/name.parquet` in 32 files. */
  private[graft] def write(df: DataFrame, dir: String, name: String): Unit =
    df.repartition(32).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def grow(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    def write(df: DataFrame, name: String): Unit = GrowFixture.write(df, outDir, name)

    val base = Tables(spark, baseDir)
    def read(name: String): DataFrame = base.t(name)

    // fixed dims pass through
    write(read("region"), "region")
    write(read("nation"), "nation")

    // dimensions: ×factor new unique keys (same value distributions —
    // names/segments derive from key arithmetic in the queries)
    write(rekey(read("customer"), factor, "c_custkey"), "customer")
    write(rekey(read("supplier"), factor, "s_suppkey"), "supplier")
    write(rekey(read("part"), factor, "p_partkey"), "part")

    // facts: copy c references copy c of every dimension — join
    // fan-out per key unchanged, key space ×factor
    write(rekey(read("orders"), factor, "o_orderkey", "o_custkey"), "orders")
    write(rekey(read("lineitem"), factor,
      "l_orderkey", "l_suppkey", "l_partkey"), "lineitem")

    // events: copy c shifts one whole-day horizon PAST THE BASE SPAN
    // later — the stream gets ×factor longer (slots/windows/sessions
    // ×factor at unchanged density); users are per-copy so session/
    // funnel state stays per-user-constant over ×factor users. The
    // horizon DERIVES from the base span (one whole day past the last
    // touched day, so copies never overlap and each copy starts on a
    // fresh day boundary): 31 days at the Jan-1..Jan-30 sf0.1 fixture —
    // bit-identical to the former hard-coded 31-day constant — and 310
    // days when re-growing the sf1 cut to sf10; a fixed 31-day shift
    // there would DENSIFY the stream (copies overlapping in time)
    // instead of extending it, silently turning the organic-growth axis
    // into the duplicate-dense stress axis Stress.blowUp already covers.
    val DayUs = 86400000000L
    val ev = base.events
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val horizonUs = ((b.getLong(1) / DayUs) - (b.getLong(0) / DayUs) + 2) * DayUs
    val shifted = copies(ev, factor)
      .withColumn("event_id", col("event_id") * factor + col("copy"))
      .withColumn("user_id", col("user_id") * factor + col("copy"))
      .withColumn("ts", timestamp_micros(
        unix_micros(col("ts")) + col("copy").cast("long") * horizonUs))
      .drop("copy")
    write(shifted, "events")

    // documents: heavy per-copy mutation (every 3rd token) — copies are
    // NOT near-dups of their source (shingle-Jaccard ≈ 0.25), so dedup/
    // similarity structures see organic growth, not candidate blow-up
    val docs = read("documents")
    write(copies(docs, factor)
      .withColumn("text", when(col("copy") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), "\\s+"), (t, i) =>
          when(pmod(i + col("copy"), lit(3)) === 0,
            concat(t, lit("g"), col("copy"))).otherwise(t)))))
      .withColumn("doc_id", col("doc_id") * factor + col("copy"))
      .withColumn("n_chars", length(col("text")))
      .drop("copy"), "documents")

    // embeddings: per-copy PSEUDO-RANDOM SIGN FLIPS (murmur3 over
    // (coordinate, copy, vec_id) — ~half the coordinates negate, a
    // distinct pattern per copy and per vector), so every copy's
    // cosine to its source and to its sibling copies is ≈ 0: genuinely
    // NEW vectors, not near-dups. (A magnitude-only perturbation keeps
    // cosine ≈ 1 no matter how large the scale factor — it would
    // silently turn this "organic growth" fixture into the
    // duplicate-dense worst case Stress.blowUp already covers.)
    val emb = read("embeddings")
    write(copies(emb, factor)
      .withColumn("embedding", when(col("copy") === 0, col("embedding"))
        .otherwise(transform(col("embedding"), (x, i) =>
          when(pmod(hash(i, col("copy"), col("vec_id")), lit(2)) === 0,
            -x).otherwise(x))))
      .withColumn("vec_id", col("vec_id") * factor + col("copy"))
      .drop("copy"), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.get()
    grow(spark, baseDir, outDir, factor)
    println(s"""{"metric":"grow","base":"$baseDir","out":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
