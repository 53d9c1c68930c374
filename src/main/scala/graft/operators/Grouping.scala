package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}

/** Grouping, cogrouping, joins, distinct (SURVEY.md §2.2).
  *
  * GroupByKey is the reference's only shuffle primitive
  * ([U] T/GroupByKey.java); joins don't exist in its core SDK — the
  * contrib join-library builds inner/outer joins from CoGroupByKey. Spark
  * has native joins with planner-chosen strategies (broadcast / sort-merge /
  * shuffled-hash), so our join surface is thin sugar over `Dataset.join` and
  * the interesting work is CoGroupByKey ergonomics.
  */
object Grouping {

  /** GroupByKey ([U] T/GroupByKey.java): KV → (K, Iterable[V]).
    *
    * Note for 100 TB users: materializing the full value iterable per key is
    * exactly as dangerous as it was in Dataflow (hot keys). Prefer
    * Combine.perKey (partial aggregation) whenever the downstream is a fold;
    * this exists for the genuinely iterable-consuming cases.
    */
  def groupByKey[K, V](ds: Dataset[(K, V)])(
      implicit ek: Encoder[K], e: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    ds.groupByKey(_._1).mapGroups { (k, it) => (k, it.map(_._2).toSeq) }

  /** Secondary sort — GroupByKey with per-key ORDERED iteration and no
    * group materialization: each key's values stream through `f` in
    * `sortCols` order (sort columns reference the pair schema, e.g.
    * `col("_2.ts")`). The engine sorts within partitions after the key
    * shuffle (one exchange + local sort — the
    * repartitionAndSortWithinPartitions pattern as a first-class typed
    * op), so sequential per-key logic (session reconstruction, gap
    * detection, running state machines) runs without `groupByKey`'s
    * whole-group buffering: a hot key costs sort spill, not an OOM. */
  def groupByKeySorted[K, V, U](ds: Dataset[(K, V)], sortCols: Seq[Column])(
      f: (K, Iterator[V]) => IterableOnce[U])(
      implicit ek: Encoder[K], eu: Encoder[U]): Dataset[U] =
    ds.groupByKey(_._1).flatMapSortedGroups(sortCols: _*) { (k, it) =>
      f(k, it.map(_._2))
    }

  /** Sorted streaming cogroup — [[coGroupByKey]] with BOTH sides'
    * values arriving ordered (each by its own sort columns, referencing
    * that side's pair schema), no group materialization on either side.
    * The sorted-merge shape: reconcile two per-key event streams
    * (orders vs shipments, expected vs observed) with one forward pass
    * instead of buffering either side's iterable. */
  def coGroupByKeySorted[K, A, B, U](a: Dataset[(K, A)], b: Dataset[(K, B)],
                                     sortA: Seq[Column], sortB: Seq[Column])(
      f: (K, Iterator[A], Iterator[B]) => IterableOnce[U])(
      implicit ek: Encoder[K], eu: Encoder[U]): Dataset[U] =
    a.groupByKey(_._1).cogroupSorted(b.groupByKey(_._1))(sortA: _*)(sortB: _*) {
      (k, as, bs) => f(k, as.map(_._2), bs.map(_._2))
    }

  /** CoGroupByKey ([U] T/join/CoGroupByKey.java): two keyed datasets →
    * per-key (values-from-a, values-from-b). N-way = chain over the tuple. */
  def coGroupByKey[K, A, B](a: Dataset[(K, A)], b: Dataset[(K, B)])(
      implicit ek: Encoder[K], e: Encoder[(K, Seq[A], Seq[B])]): Dataset[(K, Seq[A], Seq[B])] =
    a.groupByKey(_._1).cogroup(b.groupByKey(_._1)) { (k, as, bs) =>
      Iterator((k, as.map(_._2).toSeq, bs.map(_._2).toSeq))
    }

  /** contrib join-library equivalents ([U] contrib/join-library/Join.java).
    * Catalyst picks broadcast vs sort-merge; callers can wrap a side in
    * org.apache.spark.sql.functions.broadcast to force the small-dim plan. */
  def innerJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "inner")
  def leftOuterJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "left_outer")
  def rightOuterJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "right_outer")
  def fullOuterJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "full_outer")
  /** Spark superset: EXISTS / NOT EXISTS as joins. */
  def semiJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "left_semi")
  def antiJoin(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    l.join(r, on, "left_anti")

  /** RemoveDuplicates ([U] T/RemoveDuplicates.java) / Beam Distinct. */
  def distinct[T](ds: Dataset[T]): Dataset[T] = ds.distinct()

  /** RemoveDuplicates.withRepresentativeValueFn: one representative element
    * per key — implemented as a per-key min/arbitrary pick via reduceGroups
    * (partial-aggregates map-side, unlike groupBy+first over a shuffle of
    * whole rows). */
  def distinctByKey[T, K](ds: Dataset[T])(key: T => K)(pick: (T, T) => T)(
      implicit ek: Encoder[K]): Dataset[T] =
    ds.groupByKey(key).reduceGroups(pick).map(_._2)(ds.encoder)

  /** Set-op superset (absent in the reference SDK — SURVEY.md §2.2). */
  def intersect[T](a: Dataset[T], b: Dataset[T]): Dataset[T] = a.intersect(b)
  def except[T](a: Dataset[T], b: Dataset[T]): Dataset[T] = a.except(b)

  /** DataFrame-level CoGroupByKey: full-outer join of per-side collected
    * values on the key columns — the relational rendering of CoGbkResult,
    * one shuffle per side, arrays sorted for determinism. */
  def coGroupByKeyDF(a: DataFrame, b: DataFrame, on: Seq[String],
                     aValue: Column, bValue: Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val ag = a.groupBy(on.map(col): _*).agg(sort_array(collect_list(aValue)).as("a_values"))
    val bg = b.groupBy(on.map(col): _*).agg(sort_array(collect_list(bValue)).as("b_values"))
    ag.join(bg, on, "full_outer")
  }

  /** As-of (point-in-time) join — a superset of both the reference (which
    * had no join operators) and Spark's DSL (no native ASOF): for each
    * left row, the latest right row with rTs ≤ lTs on the same key.
    * Scalable rendering: union the sides, one shuffle on the key, running
    * `last(payload, ignoreNulls)` ordered by (ts, side) — right rows sort
    * before left rows at equal ts, making the match inclusive. No range
    * explosion, no per-key collect. Right payload columns come back
    * prefixed `asof_` (null when no prior right row exists). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               lTs: String, rTs: String, payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, last, lit, struct}
    require(payload.nonEmpty, "asofJoin needs at least one payload column")
    val r2 = right
      .select((keys.map(col) :+ col(rTs).as("__ts") :+
        struct(payload.map(col): _*).as("__p")): _*)
      .withColumn("__left", lit(0))
    val l2 = left.withColumn("__ts", col(lTs)).withColumn("__left", lit(1))
    val u = l2.unionByName(r2, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__left") === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        payload.map(p => col("__asof").getField(p).as(s"asof_$p")): _*)
  }

  /** Skew-busting salted equi-join: the skewed side gets a per-row salt
    * (monotonic row id — content hashing would collapse for identical hot
    * rows, the common skew case), the other side replicates once per salt
    * value, and the join key becomes (key, salt) — one hot key spreads
    * over `salt` reducers. AQE's runtime skew split is the first answer
    * (on by Spark's default); this is the explicit form for when
    * the join must keep a particular partitioning or AQE can't see the
    * skew (e.g. skew materializes after a filter). Replication multiplies
    * the other side by `salt` — keep it the small side. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, on: Seq[String],
                 salt: Int, how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.{explode, lit, monotonically_increasing_id, pmod, sequence}
    require(salt > 0, "salt must be positive")
    require(how == "inner" || how == "left_outer" || how == "left" ||
      how == "left_semi" || how == "left_anti",
      s"saltedJoin supports left-preserving joins only ($how would duplicate " +
        "unmatched replicated rows)")
    val s = skewed.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salt)))
    val o = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt - 1L))))
    s.join(o, on :+ "__salt", how).drop("__salt")
  }

  /** Range (interval) join, binned for scale — another join-shape superset.
    * A raw `pt BETWEEN start AND end` join has no equi-key, so Spark plans
    * it as a cartesian/BNLJ. Binning makes it an equi-join: each interval
    * replicates to the bins it covers, each point maps to exactly one bin,
    * and the residual BETWEEN filter runs after the bin match. A (point,
    * interval) pair meets only in the point's bin, so the result needs no
    * dedup and is exactly the inequality join's. Inputs must be numeric
    * (cast timestamps to epoch days/seconds at a granularity ≥ binSize
    * resolution). */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame,
                      pt: Column, start: Column, end: Column,
                      binSize: Long): DataFrame = {
    import org.apache.spark.sql.functions.{explode, floor, sequence}
    require(binSize > 0, "binSize must be positive")
    // precision note: bin = floor(value / binSize) evaluates in DOUBLE,
    // exact only while |value| < 2^53. For nanosecond-epoch-scale longs,
    // pre-scale to coarser units (or pick binSize so value/binSize stays
    // under 2^53) — a value whose low bits round across a bin edge would
    // otherwise silently miss its interval.
    val p2 = points.withColumn("__bin", floor(pt / binSize).cast("long"))
    val i2 = intervals.withColumn("__bin",
      explode(sequence(floor(start / binSize).cast("long"),
        floor(end / binSize).cast("long"))))
    p2.join(i2, Seq("__bin"))
      .filter(pt >= start && pt <= end)
      .drop("__bin")
  }

  /** N-way CoGroupByKey ([U] T/join/KeyedPCollectionTuple + CoGbkResult):
    * each tagged input is aggregated to (key, sorted values) then chained
    * through full-outer joins — keys present in ANY input appear once, with
    * `<tag>_values` arrays (null where absent). One shuffle per input plus
    * the join exchanges; at scale every stage keeps the same key
    * partitioning so AQE coalesces the chain. */
  def coGroupByKeyN(inputs: Seq[(String, DataFrame, Column)],
                    on: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(inputs.nonEmpty, "coGroupByKeyN needs at least one input")
    inputs.map { case (tag, df, value) =>
      df.groupBy(on.map(col): _*).agg(sort_array(collect_list(value)).as(s"${tag}_values"))
    }.reduce(_.join(_, on, "full_outer"))
  }
}
