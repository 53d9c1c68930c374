package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}

import graft.Tables
import graft.operators.{Combine, ElementWise, Grouping, View}
import graft.operators.ElementWise._
import graft.queries.QueryUtil._

/** Batch operator inventory queries (SURVEY.md §2.1–2.3, 2.7).
  *
  * Each entry exercises one operator row from the survey through the graft
  * library, with a DuckDB oracle in [[oracles]]. Conventions: explicit final
  * ORDER BY; decimal-routed double aggregates; column names identical to the
  * oracle's.
  */
object BatchQueries {

  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(

    // §2.1 MapElements + Filter: projection/predicate stay codegen'd and
    // push down to the parquet scan.
    "q_map_filter" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_quantity") >= 30 && col("l_discount") > 0.02)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // exact decimal product (prices/discounts have 2 decimal digits);
          // rounding the double product instead would sit on the .xx5
          // boundary for most rows and diverge from any other engine
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)"))
            .cast("double").as("net_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // §2.1 ParDo with bundle hooks: opaque per-element Scala logic (JSON-ish
    // prop extraction) — the DoFn path, used only where Column exprs can't.
    "q_pardo_props" -> { (s, dir) =>
      import s.implicits._
      val re = """"k": (\d+)""".r
      val props = Tables(s, dir).events.select(col("props")).as[String]
      val ks = ElementWise.parDo(props)(new DoFn[String, String] {
        // a non-matching payload maps to "" (exactly what the oracle's
        // regexp_extract returns on no-match) — dropping it instead
        // would silently diverge the two sides on a fixture change
        def processElement(p: String): IterableOnce[String] =
          Iterator.single(re.findFirstMatchIn(p).map(_.group(1)).getOrElse(""))
      })
      ks.toDF("k").groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    },

    // §2.1 WithKeys/Keys: typed KV plumbing feeding a per-element count.
    "q_kv_ops" -> { (s, dir) =>
      import s.implicits._
      val typed = Tables(s, dir).events
        .select(col("event_id"), col("event_type")).as[(Long, String)]
      val keyed = typed.withKeys(_._2) // (event_type, (id, type))
      keyed.keys.toDF("event_type")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // §2.1 Partition: fan out by a partition fn over one cached scan,
    // then per-branch aggregates unioned back.
    "q_partition" -> { (s, dir) =>
      val statusIdx = Map("F" -> 0, "O" -> 1)
      // total fn (unknown statuses → last bucket), mirroring the oracle's
      // CASE ... ELSE — Map.apply would crash on a status the oracle
      // happily routes to bucket 2
      val parts = Tables(s, dir).orders
        .partitionInto(3)(r => statusIdx.getOrElse(r.getAs[String]("o_orderstatus"), 2))
      val counted = parts.zipWithIndex.map { case (p, i) =>
        p.agg(count(lit(1)).as("n")).select(lit(i).as("bucket"), col("n"))
      }
      ElementWise.flatten(counted).orderBy(col("bucket"))
    },

    // §2.1 WithTimestamps: reassign event time (shift by a per-row integer
    // number of minutes), then window on the NEW timestamps — proving the
    // reassignment feeds event-time operators downstream.
    "q_with_timestamps" -> { (s, dir) =>
      Tables(s, dir).events
        .withColumn("ts2",
          col("ts") + expr("make_dt_interval(0, 0, event_id % 120, 0)"))
        .groupBy(window(col("ts2"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .orderBy(col("w_start"))
    },

    // §2.1 Reshuffle: redistribution is semantically invisible — the
    // aggregate over the reshuffled data must equal the plain one.
    "q_reshuffle" -> { (s, dir) =>
      import graft.operators.ElementWise._
      implicit val sp: SparkSession = s
      import s.implicits._
      val typed = Tables(s, dir).events
        .select(col("event_type"), col("value")).as[(String, Double)]
      typed.reshuffle(16).toDF("event_type", "value")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // §2.1 Flatten.pCollections: union of two tagged subsets.
    "q_flatten" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val high = o.filter(col("o_totalprice") > 400000)
        .select(lit("high").as("bucket"), col("o_orderkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(lit("urgent").as("bucket"), col("o_orderkey"))
      ElementWise.flatten(Seq(high, urgent)).orderBy(col("bucket"), col("o_orderkey"))
    },

    // §2.2 GroupByKey: per-key value iterables (rendered as sorted CSV for
    // a deterministic hash).
    "q_groupbykey" -> { (s, dir) =>
      Tables(s, dir).nation
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("names"))
        .orderBy(col("n_regionkey"))
    },

    // §2.2 secondary sort: per-customer orders stream through the group
    // function in (date, key) order WITHOUT materializing the group —
    // max gap between consecutive orders needs ordered iteration (the
    // state-machine-per-key shape); the oracle replays it with a lag
    // window. floor is monotone, so max-then-floor ≡ floor-then-max.
    "q_sorted_group" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val ds = Tables(s, dir).orders
        .select(col("o_custkey").as("_1"),
          struct(col("o_orderdate").cast("timestamp").cast("long").as("_1"),
            col("o_orderkey").as("_2")).as("_2"))
        .as[(Long, (Long, Long))]
      Grouping.groupByKeySorted(ds, Seq(col("_2._1"), col("_2._2"))) {
        (cust: Long, it: Iterator[(Long, Long)]) =>
          var n = 0L; var prev = -1L; var maxGap = 0L
          it.foreach { case (ts, _) =>
            if (prev >= 0 && ts - prev > maxGap) maxGap = ts - prev
            prev = ts; n += 1
          }
          Iterator((cust, n, maxGap / 86400L))
      }.toDF("custkey", "n_orders", "max_gap_days")
        .orderBy(col("custkey"))
    },

    // §2.2 sorted cogroup: per-order reconciliation of the order row
    // with its shipments in ship-date order — first-shipment lag and
    // shipment count from ONE forward pass over each side, nothing
    // buffered. floorDiv on both engines (shipdate can precede
    // orderdate only if the fixture drifts; floor keeps parity either
    // way). Orders with no lineitems surface with n_ship = 0.
    "q_cogroup_sorted" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val o = Tables(s, dir).orders
        .select(col("o_orderkey").as("_1"),
          col("o_orderdate").cast("timestamp").cast("long").as("_2"))
        .as[(Long, Long)]
      val li = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("_1"),
          col("l_shipdate").cast("timestamp").cast("long").as("_2"))
        .as[(Long, Long)]
      Grouping.coGroupByKeySorted(o, li, Nil, Seq(col("_2"))) {
        (k: Long, os: Iterator[Long], ls: Iterator[Long]) =>
          os.map { od =>
            var n = 0L
            var first = -1L
            ls.foreach { sd => if (n == 0) first = sd; n += 1 }
            (k, n, if (n > 0) Math.floorDiv(first - od, 86400L) else -1L)
          }
      }.toDF("orderkey", "n_ship", "first_gap_days")
        .orderBy(col("orderkey"))
    },

    // §2.2 CoGroupByKey: relational CoGbkResult over customer/supplier
    // keyed by nation.
    "q_cogroupbykey" -> { (s, dir) =>
      val t = Tables(s, dir)
      val c = t.customer.select(col("c_nationkey").as("nationkey"), col("c_name"))
      val sup = t.supplier.select(col("s_nationkey").as("nationkey"), col("s_name"))
      Grouping.coGroupByKeyDF(c, sup, Seq("nationkey"), col("c_name"), col("s_name"))
        .select(
          col("nationkey"),
          coalesce(size(col("a_values")), lit(0)).as("n_cust"),
          coalesce(array_join(col("a_values"), ","), lit("")).as("cust_csv"),
          coalesce(size(col("b_values")), lit(0)).as("n_supp"),
          coalesce(array_join(col("b_values"), ","), lit("")).as("supp_csv"))
        .orderBy(col("nationkey"))
    },

    // §2.2 N-way CoGroupByKey (KeyedPCollectionTuple): three tagged inputs
    // cogrouped on nationkey, keys from ANY input surviving.
    "q_cogroup_nway" -> { (s, dir) =>
      val t = Tables(s, dir)
      Grouping.coGroupByKeyN(Seq(
        ("cust", t.customer.select(col("c_nationkey").as("nationkey"), col("c_name")), col("c_name")),
        ("supp", t.supplier.select(col("s_nationkey").as("nationkey"), col("s_name")), col("s_name")),
        ("nat", t.nation.select(col("n_nationkey").as("nationkey"), col("n_name")), col("n_name"))),
        Seq("nationkey"))
        .select(col("nationkey"),
          coalesce(array_join(col("cust_values"), ","), lit("")).as("cust_csv"),
          coalesce(array_join(col("supp_values"), ","), lit("")).as("supp_csv"),
          coalesce(array_join(col("nat_values"), ","), lit("")).as("nat_csv"))
        .orderBy(col("nationkey"))
    },

    // §2.2 join (contrib join-library): TPC-H Q3 shape — broadcast the
    // filtered customer dim, sort-merge lineitem⋈orders, top-10 revenue.
    "q_join_q3" -> { (s, dir) =>
      val t = Tables(s, dir)
      val c = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val oc = t.orders.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"))
      t.lineitem
        .join(oc, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // §2.2 anti join (Spark superset; Dataflow needed CoGBK + filter):
    // customers with no orders, per segment.
    "q_join_anti" -> { (s, dir) =>
      val t = Tables(s, dir)
      val noOrders = Grouping.antiJoin(
        t.customer,
        t.orders.select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))
      noOrders.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },

    // §2.2 semi join: orders having any heavy lineitem.
    "q_join_semi" -> { (s, dir) =>
      val t = Tables(s, dir)
      val heavy = t.lineitem.filter(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"))
      Grouping.semiJoin(t.orders, heavy, Seq("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // §2.2 multiway join with broadcast dims: revenue per nation
    // (lineitem ⋈ supplier ⋈ nation, both dims broadcast).
    "q_join_multiway" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("n_name"))
    },

    // §2.2 superset: AS-OF join — each purchase attributed to the user's
    // latest preceding view (DuckDB's native ASOF JOIN is the oracle).
    "q_asof_join" -> { (s, dir) =>
      val e = Tables(s, dir).events
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Grouping.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
        Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_event_id").as("view_event_id"),
          col("asof_value").as("view_value"))
        .orderBy(col("event_id"))
    },

    // §2.2 superset: binned RANGE join — lineitem ship days against promo
    // windows, the non-equi predicate rewritten to an equi-join on bins.
    "q_range_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val epoch = lit("1992-01-01").cast("date")
      val promos = t.orders.filter(pmod(col("o_orderkey"), lit(1000)) === 0)
        .select(col("o_orderkey").as("promo_id"),
          datediff(col("o_orderdate"), epoch).as("p_start"))
        .withColumn("p_end", col("p_start") + 7)
      val points = t.lineitem
        .select(datediff(col("l_shipdate"), epoch).as("ship_day"))
      // interval side is filtered to ~0.1% of orders — broadcast it so the
      // bin join never shuffles the 100×-larger point side
      Grouping.rangeJoinBinned(points, broadcast(promos),
        col("ship_day"), col("p_start"), col("p_end"), binSize = 7)
        .groupBy(col("promo_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("promo_id"))
    },

    // §2.2 RemoveDuplicates.
    "q_distinct" -> { (s, dir) =>
      Grouping.distinct(Tables(s, dir).lineitem.select(col("l_returnflag"), col("l_linestatus")))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // §2.2 set-op superset: intersect/except of customer vs supplier nations.
    "q_set_ops" -> { (s, dir) =>
      val t = Tables(s, dir)
      val cn = t.customer.select(col("c_nationkey").as("nationkey")).distinct()
      val sn = t.supplier.select(col("s_nationkey").as("nationkey")).distinct()
      val both = Grouping.intersect(cn, sn).select(lit("both").as("op"), col("nationkey"))
      val custOnly = Grouping.except(cn, sn).select(lit("cust_only").as("op"), col("nationkey"))
      both.union(custOnly).orderBy(col("op"), col("nationkey"))
    },

    // MULTISET set ops (the ALL variants): intersectAll keeps
    // min(countA, countB) copies per value, exceptAll keeps the count
    // difference — the semantics dedup-aware pipelines need (how many
    // OCCURRENCES survive, not which values). Collapsed to per-value
    // counts for a compact deterministic output.
    "q_set_ops_all" -> { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val a = li.filter(col("l_orderkey") % 2 === 0).select(col("l_suppkey"))
      val b = li.filter(col("l_orderkey") % 3 === 0).select(col("l_suppkey"))
      a.intersectAll(b).select(lit("inter_all").as("op"), col("l_suppkey"))
        .union(a.exceptAll(b).select(lit("except_all").as("op"), col("l_suppkey")))
        .groupBy(col("op"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("op"), col("l_suppkey"))
    },

    // §2.3 Combine.globally: one-row global fold (composed CombineFns).
    "q_combine_global" -> { (s, dir) =>
      Tables(s, dir).lineitem.agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    },

    // §2.3/§2.7 Top.of: global top-k as TakeOrderedAndProject (bounded
    // distributed heap, no full sort).
    "q_top_global" -> { (s, dir) =>
      Combine.topGlobal(
        Tables(s, dir).orders.select(col("o_orderkey"), col("o_totalprice")),
        10, col("o_totalprice").desc, col("o_orderkey"))
    },

    // §2.3 Top.perKey: window row_number, rank-filtered.
    "q_top_perkey" -> { (s, dir) =>
      Combine.topPerKey(
        Tables(s, dir).orders.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_orderpriority"), 3, col("o_totalprice").desc, col("o_orderkey"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    },

    // §2.3 Count.perElement over a composite element.
    "q_count_perelement" -> { (s, dir) =>
      Combine.countPerElement(
        Tables(s, dir).lineitem.select(col("l_returnflag"), col("l_linestatus")))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // §2.3 Mean/Min/Max per key (the Combine stats family).
    "q_mean_stats" -> { (s, dir) =>
      Tables(s, dir).customer
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          davg(col("c_acctbal")).as("avg_bal"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // §2.3 ApproximateUnique + ApproximateQuantiles, self-asserting form:
    // raw sketch values are engine-specific, so the checkable output is
    // exact companions (countDistinct, row count) plus engine-computed
    // booleans asserting each estimate sits inside its error bound — the
    // oracle pins the exact columns and literal TRUE for the booleans, so
    // a silently broken sketch flips the hash. The quantile check is
    // RANK-based (count of values ≤ estimate vs target rank — a plain
    // scale-safe aggregate, directly the Greenwald-Khanna guarantee of
    // rank error ≤ n/accuracy = 1e-4·n, asserted with 0.02 slack for
    // ties) — exact percentile would buffer every value per group, the
    // opposite of what a sketch query should model at 100 TB. The
    // distinct-count bound is 5σ of HLL++'s rsd=0.02.
    "q_approx_sketches" -> { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val est = li.agg(
        Combine.approximateUnique(col("l_partkey"), 0.02).as("ap"),
        Combine.approximateQuantile(col("l_extendedprice"), 0.5).as("p50"),
        Combine.approximateQuantile(col("l_extendedprice"), 0.95).as("p95"))
      li.crossJoin(broadcast(est))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_rows"),
          first(col("ap")).as("ap"),
          sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("l_extendedprice") <= col("p95"), 1L).otherwise(0L)).as("r95"))
        .select(
          col("exact_parts"), col("n_rows"),
          (abs(col("ap") - col("exact_parts"))
            <= ceil(col("exact_parts") * 0.1)).as("parts_ok"),
          (abs(col("r50").cast("double") / col("n_rows") - 0.5) <= 0.02).as("p50_ok"),
          (abs(col("r95").cast("double") / col("n_rows") - 0.95) <= 0.02).as("p95_ok"))
    },

    // §2.3 mergeable sketch columns: per-segment HLL sketches unioned back
    // to a global estimate — re-aggregation without touching raw data.
    // Same self-asserting shape as q_approx_sketches: the merged estimate
    // must land within 5σ of the exact distinct count (lgK=12 → rsd
    // ≈ 1.6%, bound 10%), so the union path is gate-checked end-to-end.
    "q_sketch_merge" -> { (s, dir) =>
      val perSegment = Tables(s, dir).customer
        .groupBy(col("c_mktsegment"))
        .agg(Combine.hllSketch(col("c_custkey")).as("sk"),
          count(lit(1)).as("n"))
      val merged = perSegment.agg(
        sum(col("n")).as("n_rows"),
        Combine.hllEstimate(Combine.hllUnion(col("sk"))).as("est"))
      val exact = Tables(s, dir).customer
        .agg(countDistinct(col("c_custkey")).as("exact_customers"))
      merged.crossJoin(broadcast(exact))
        .select(col("n_rows"), col("exact_customers"),
          (abs(col("est") - col("exact_customers"))
            <= ceil(col("exact_customers") * 0.1)).as("merge_ok"))
    },

    // Mergeable QUANTILE sketches (KLL, datasketches-java): per-flag
    // price sketches answer q10/q50/q90 and ALSO roll up into the
    // global sketch relationally — percentile_approx can do neither
    // (its GK summary dies with the aggregation). KLL is randomized, so
    // the gate pins RANK-ERROR bounds, never sketch bytes: the exact
    // rank of each estimate (computed relationally against the data)
    // must sit within ±5% of the requested rank (k=200 ⇒ <1.4%
    // normalized error at 99%; the margin is >3× that). Exact
    // companions: per-flag row counts.
    "q_kll_quantiles" -> { (s, dir) =>
      import graft.functions.SketchAgg
      val li = Tables(s, dir).lineitem
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      val perFlag = li.groupBy(col("flag"))
        .agg(SketchAgg.kllSketch(col("v")).as("sk"), count(lit(1)).as("n"))
      val ests = perFlag.select(col("flag"), col("n"),
        SketchAgg.kllQuantile(col("sk"), 0.1).as("e10"),
        SketchAgg.kllQuantile(col("sk"), 0.5).as("e50"),
        SketchAgg.kllQuantile(col("sk"), 0.9).as("e90"))
      val global = perFlag
        .agg(SketchAgg.kllMerge(col("sk")).as("gsk"), sum(col("n")).as("gn"))
        .select(SketchAgg.kllQuantile(col("gsk"), 0.5).as("g50"), col("gn"))
      val flagRanks = li.join(broadcast(ests), Seq("flag"))
        .groupBy(col("flag"))
        .agg(first(col("n")).as("n"),
          (sum(when(col("v") <= col("e10"), 1).otherwise(0)) / first(col("n")))
            .as("r10"),
          (sum(when(col("v") <= col("e50"), 1).otherwise(0)) / first(col("n")))
            .as("r50"),
          (sum(when(col("v") <= col("e90"), 1).otherwise(0)) / first(col("n")))
            .as("r90"))
      val globalRank = li.crossJoin(broadcast(global))
        .agg((sum(when(col("v") <= col("g50"), 1).otherwise(0)) / first(col("gn")))
          .as("rg50"))
      flagRanks.crossJoin(broadcast(globalRank))
        .select(col("flag"), col("n"),
          (abs(col("r10") - 0.1) <= 0.05).as("q10_ok"),
          (abs(col("r50") - 0.5) <= 0.05).as("q50_ok"),
          (abs(col("r90") - 0.9) <= 0.05).as("q90_ok"),
          (abs(col("rg50") - 0.5) <= 0.05).as("merged_q50_ok"))
        .orderBy(col("flag"))
    },

    // Corpus-overlap audit via sketch set algebra: how much vocabulary do
    // two corpus halves share? Exact distinct counts are the oracle
    // columns; the HLL legs estimate |A|, |B|, |A∪B| from per-half
    // sketches and derive |A∩B| by inclusion–exclusion — the audit shape
    // that at 100 TB runs on pre-built per-shard sketches without ever
    // re-reading raw text. Error pins: 10% on each direct estimate
    // (lgK=12 rsd≈1.6%, bound is >5σ), and the intersection inherits the
    // sum of the three (≤ 0.3·|A∪B|, conservative triangle bound).
    "q_corpus_overlap" -> { (s, dir) =>
      val toks = Tables(s, dir).documents
        .select(pmod(col("doc_id"), lit(2)).as("half"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      val perHalf = toks.groupBy(col("half"))
        .agg(Combine.hllSketch(col("token")).as("sk"))
      val ests = perHalf.agg(
        Combine.hllEstimate(Combine.hllUnion(col("sk"))).as("est_union"),
        Combine.hllEstimate(min(when(col("half") === 0, col("sk")))).as("est_a"),
        Combine.hllEstimate(min(when(col("half") === 1, col("sk")))).as("est_b"))
      val exact = toks.agg(
        countDistinct(when(col("half") === 0, col("token"))).as("exact_a"),
        countDistinct(when(col("half") === 1, col("token"))).as("exact_b"),
        countDistinct(col("token")).as("exact_union"))
      exact.crossJoin(broadcast(ests))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_inter"),
          (abs(col("est_a") - col("exact_a")) <= ceil(col("exact_a") * 0.1)).as("a_ok"),
          (abs(col("est_b") - col("exact_b")) <= ceil(col("exact_b") * 0.1)).as("b_ok"),
          (abs(col("est_union") - col("exact_union"))
            <= ceil(col("exact_union") * 0.1)).as("union_ok"),
          (abs((col("est_a") + col("est_b") - col("est_union"))
            - (col("exact_a") + col("exact_b") - col("exact_union")))
            <= ceil(col("exact_union") * 0.3)).as("inter_ok"))
    },

    // Theta-sketch set algebra: the same two corpus halves as
    // q_corpus_overlap, but intersection and difference are FIRST-CLASS
    // sketch operations instead of inclusion–exclusion arithmetic — the
    // result of theta_intersect is itself a sketch carrying its own
    // error bounds, where the HLL route's intersection error scales
    // with |A∪B| and has no per-result bound at all. Gate: every
    // estimate's own [lb, ub] interval (3σ) must contain the exact
    // companion — including the intersection and difference, which is
    // precisely the guarantee inclusion–exclusion cannot give.
    "q_theta_overlap" -> { (s, dir) =>
      import graft.functions.SketchAgg
      val toks = Tables(s, dir).documents
        .select(pmod(col("doc_id"), lit(2)).as("half"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      val perHalf = toks.groupBy(col("half"))
        .agg(SketchAgg.thetaSketch(col("token"), 12).as("sk"))
      val ests = perHalf.agg(
        SketchAgg.thetaMerge(col("sk"), 12).as("sk_union"),
        min(when(col("half") === 0, col("sk"))).as("sk_a"),
        min(when(col("half") === 1, col("sk"))).as("sk_b"))
        .select(col("sk_a"), col("sk_b"), col("sk_union"),
          SketchAgg.thetaIntersect(col("sk_a"), col("sk_b")).as("sk_inter"),
          SketchAgg.thetaANotB(col("sk_a"), col("sk_b")).as("sk_diff"))
      val exact = toks.agg(
        countDistinct(when(col("half") === 0, col("token"))).as("exact_a"),
        countDistinct(when(col("half") === 1, col("token"))).as("exact_b"),
        countDistinct(col("token")).as("exact_union"))
      def inBounds(sk: org.apache.spark.sql.Column,
                   exactC: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        SketchAgg.thetaLowerBound(sk, 3) <= exactC &&
          SketchAgg.thetaUpperBound(sk, 3) >= exactC
      exact.crossJoin(broadcast(ests))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_inter"),
          inBounds(col("sk_a"), col("exact_a")).as("a_ok"),
          inBounds(col("sk_b"), col("exact_b")).as("b_ok"),
          inBounds(col("sk_union"), col("exact_union")).as("union_ok"),
          inBounds(col("sk_inter"),
            col("exact_a") + col("exact_b") - col("exact_union")).as("inter_ok"),
          inBounds(col("sk_diff"),
            col("exact_union") - col("exact_b")).as("diff_ok"))
    },

    // The sketch-REUSE capstone: one theta sketch per source (20 builds
    // over one corpus scan), then every pairwise source-overlap question
    // answers from the stored sketches alone — 190 intersections with
    // per-result error bounds, no raw-text re-read. At 100 TB this is
    // the "which sources duplicate each other" audit as sketch algebra;
    // the gate pins every pair's exact vocabulary intersection inside
    // the intersection sketch's own 3σ interval.
    "q_source_overlap_matrix" -> { (s, dir) =>
      import graft.functions.SketchAgg
      val toks = Tables(s, dir).documents
        .select(col("source"), explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      val sks = toks.groupBy(col("source"))
        .agg(SketchAgg.thetaSketch(col("token"), 12).as("sk"))
      val pairs = sks.as("a").join(sks.as("b"),
          col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          SketchAgg.thetaIntersect(col("a.sk"), col("b.sk")).as("sk_inter"))
      val exact = toks.select(col("source"), col("token")).distinct()
      val exactPairs = exact.as("x").join(exact.as("y"),
          col("x.token") === col("y.token") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairs.join(exactPairs, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          (SketchAgg.thetaLowerBound(col("sk_inter"), 3) <= coalesce(col("exact_inter"), lit(0L)) &&
           SketchAgg.thetaUpperBound(col("sk_inter"), 3) >= coalesce(col("exact_inter"), lit(0L)))
            .as("inter_ok"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // §2.3 Sample.fixedSizePerKey, deterministic variant: top-n per key by
    // md5 of the row identity — size-exact like the reservoir, but
    // reproducible across engines so the oracle can replicate it (the
    // rand(seed) reservoir form is covered in CombineSpec).
    "q_sample_perkey" -> { (s, dir) =>
      Combine.samplePerKeyByHash(
        Tables(s, dir).events.select(col("event_id"), col("event_type")),
        Seq("event_type"), 5, Seq("event_type", "event_id"))
        .orderBy(col("event_type"), col("event_id"))
    },

    // Key-skew diagnosis: measure hot keys (exact counts via MG-prune +
    // recount; the tail never shuffles) and derive the salt factor the
    // remedies need, instead of guessing it. The fixture key is made
    // 60% hot deliberately; suggested_salt uses pure integer ceil, so
    // the recommendation replays exactly.
    "q_skew_report" -> { (s, dir) =>
      val keyed = Tables(s, dir).events
        .select(when(pmod(col("event_id"), lit(10)) < 6, lit("hot"))
          .otherwise(col("event_type")).as("k"))
      graft.operators.Skew.keySkewReport(keyed, col("k"),
        minShare = 0.05, parallelism = 32)
    },

    // §2.1 Create under the gate: a literal in-memory dataset is a real
    // source (parallelized, partitioned); the oracle replays it as VALUES.
    "q_create" -> { (s, _) =>
      import s.implicits._
      ElementWise.create(s, Seq(("a", 1L), ("b", 2L), ("a", 3L), ("c", 5L)))
        .toDF("k", "v")
        .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .orderBy(col("k"))
    },

    // §2.3 View side inputs under the driver gate: the nation table
    // becomes an asMap BROADCAST side input consumed inside a typed map
    // (the Beam View.asMap pattern — closure lookup, no join in the
    // plan), and the oracle replays it as the join it semantically is.
    // Unknown keys take the documented "unknown" default.
    "q_side_input" -> { (s, dir) =>
      import s.implicits._
      val names = graft.operators.View.asMap(
        Tables(s, dir).nation.select(col("n_nationkey"), col("n_name"))
          .as[(Long, String)])
      Tables(s, dir).customer.select(col("c_nationkey")).as[Long]
        .map(k => names.value.getOrElse(k, "unknown"))
        .toDF("nation_name")
        .groupBy(col("nation_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("nation_name"))
    },

    // §2.3 CombineWithContext under the gate: the combine logic reads a
    // broadcast context (the corpus-wide balance total, in exact integer
    // cents) and emits each nation's mean deviation from the global
    // mean — context captured ONCE, read executor-locally. All sums are
    // integer cents so the fold is order-free; doubles appear only in
    // the final two divisions, which the oracle replays verbatim.
    "q_combine_context" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables(s, dir).customer
      val global = cust.agg(
        sum(round(col("c_acctbal") * 100).cast("long")).as("tc"),
        count(lit(1)).as("tn")).head()
      val fn = Combine.withContext(s, (global.getLong(0), global.getLong(1))) { ctx =>
        new Combine.CombineFn[Double, (Long, Long), Double] {
          def createAccumulator(): (Long, Long) = (0L, 0L)
          def addInput(acc: (Long, Long), in: Double): (Long, Long) =
            (acc._1 + Math.round(in * 100), acc._2 + 1)
          def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
            (a._1 + b._1, a._2 + b._2)
          def extractOutput(acc: (Long, Long)): Double = {
            val (tc, tn) = ctx.value
            (acc._1.toDouble / acc._2 - tc.toDouble / tn) / 100.0
          }
        }
      }
      Combine.perKey(
          cust.select(col("c_nationkey"), col("c_acctbal")).as[(Long, Double)], fn)
        .toDF("nationkey", "mean_deviation")
        .select(col("nationkey"), round(col("mean_deviation"), 4).as("mean_deviation"))
        .orderBy(col("nationkey"))
    },

    // §2.3 Combine.perKey.withHotKeyFanout: two-stage salted aggregation.
    "q_hotkey_sum" -> { (s, dir) =>
      Combine.sumWithHotKeyFanout(
        Tables(s, dir).lineitem, Seq("l_returnflag"),
        col("l_quantity").cast("decimal(18,4)"), fanout = 8)
        .select(col("l_returnflag"), col("sum").cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // VERDICT r13 task 4: the salted path under PLANTED pathological
    // skew — one key owns ~50% of lineitem (every even orderkey's rows
    // remap to suppkey −1), a mass concentration the natural fixtures
    // never produce (their heaviest keys sit near 1/|keys|). The
    // two-stage fanout-32 aggregation must stay EXACT under it: a salt
    // bucket dropped, double-merged, or hashed per-content (the classic
    // salted-agg bugs, all invisible on balanced keys because every
    // bucket sees similar mass) shifts the hot key's DECIMAL-exact sum
    // against the oracle. Top-10 by mass keeps the output small and
    // pins the hot key in row 1 at ~3000× the tail keys' mass.
    "q_skew_planted" -> { (s, dir) =>
      val planted = Tables(s, dir).lineitem.select(
        when(pmod(col("l_orderkey"), lit(2)) === 0, lit(-1L))
          .otherwise(col("l_suppkey")).as("k"),
        col("l_quantity"))
      Combine.sumWithHotKeyFanout(planted, Seq("k"),
          col("l_quantity").cast("decimal(18,4)"), fanout = 32)
        .select(col("k"), col("sum").cast("double").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("k"))
        .limit(10)
    },

    // §2.3 superset: rollup with sentinel-coalesced group keys.
    "q_rollup" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("g1"),
          coalesce(col("l_linestatus"), lit("ALL")).as("g2"),
          col("n"))
        .orderBy(col("g1"), col("g2"))
    },

    // §2.3 superset: cube.
    "q_cube" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("g1"),
          coalesce(col("l_linestatus"), lit("ALL")).as("g2"),
          col("n"))
        .orderBy(col("g1"), col("g2"))
    },

    // §2.7 superset: analytic window functions (row_number/lag).
    "q_window_functions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events.select(
        col("user_id"),
        row_number().over(w).as("rn"),
        round(col("value") - lag(col("value"), 1, 0.0).over(w), 2).as("delta"))
        .orderBy(col("user_id"), col("rn"))
    },

    // The full ranking-function family per order (rank, dense_rank,
    // percent_rank, cume_dist, frame-wide first/last). Every emitted
    // column is a function of (l_orderkey, l_quantity) only, so tied
    // rows produce IDENTICAL output rows — deterministic as a multiset
    // even though the fixture's line numbers repeat. percent_rank and
    // cume_dist are one double division of exact integers each.
    "q_window_ranking" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_quantity"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir).lineitem.select(
        col("l_orderkey"), col("l_quantity"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        first(col("l_quantity")).over(full).as("min_q"),
        last(col("l_quantity")).over(full).as("max_q"))
        .orderBy(col("l_orderkey"), col("l_quantity"))
    },

    // Exact interpolated percentiles (percentile_cont semantics): for
    // p ∈ {.25, .5, .75} every step — p·(n−1), the fractional split,
    // lower + frac·(upper−lower) over small-integer quantities — is
    // IEEE-exact, so the interpolated values match DuckDB's
    // quantile_cont bit for bit with no rounding mask.
    "q_percentile_exact" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("q50"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // Link-graph authority (weighted PageRank, 5 iterations) over the
    // customer↔supplier interaction graph — the source-quality-weighting
    // step a crawl pipeline runs before mixing. Integer fixed-point
    // arithmetic end to end (Graph.pageRank scaladoc), which is what
    // lets DuckDB replay all five iterations EXACTLY (unrolled CTEs)
    // and hash-match — a float PageRank could only ever be
    // tolerance-compared.
    "q_pagerank" -> { (s, dir) =>
      import graft.operators.Graph
      val t = Tables(s, dir)
      // orderkey→custkey is a narrow keymap — broadcast it (at larger SF
      // this becomes the bucketed co-located join; the hint is the
      // local[32] choice, not the algorithm)
      val e0 = t.lineitem
        .join(broadcast(t.orders.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      // symmetrize in ONE pass (explode of both directions) — a union of
      // two selects over e0 would execute the join+aggregation twice
      val edges = e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"), col("w"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("w"))
      Graph.pageRank(edges, iters = 5).orderBy(col("node"))
    },

    // HITS over the DIRECTED customer→supplier purchase graph (no
    // symmetrization: hubs = buying customers, authorities = supplying
    // suppliers — the bipartite case Kleinberg's algorithm was built
    // for). 3 iterations, L1-normalized integer fixed-point → the full
    // replay is hash-exact under the unrolled-CTE oracle.
    "q_hits" -> { (s, dir) =>
      import graft.operators.Graph
      val t = Tables(s, dir)
      val edges = t.lineitem
        .join(broadcast(t.orders.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      Graph.hits(edges, iters = 3).orderBy(col("node"))
    },

    // Personalized PageRank over the same customer-supplier graph:
    // teleports restart at the BUILDING-segment customers only, so
    // ranks measure proximity to that segment (Haveliwala 2002). Same
    // integer fixed-point arithmetic → the full 5-iteration replay
    // stays hash-exact under the oracle.
    "q_pagerank_personalized" -> { (s, dir) =>
      import graft.operators.Graph
      val t = Tables(s, dir)
      val e0 = t.lineitem
        .join(broadcast(t.orders.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"), col("w"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("w"))
      val seeds = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") * 2).as("node"))
      Graph.pageRank(edges, iters = 5, seeds = Some(seeds)).orderBy(col("node"))
    },

    // ANALYZE-style table statistics: per-column min/max/null-count/NDV
    // with the HLL estimate's error bound pinned engine-side — the
    // stats a cost-based planner or data-quality monitor collects
    // before anything else runs. Plan: min/max/nulls/HLL in ONE
    // shuffle-free scan, plus ONE stack→distinct shuffle answering all
    // exact NDVs. Plan history at sf0.1: single-pass multi-DISTINCT
    // Expand 83 s → six unioned per-column countDistinct legs 4.7 s →
    // this fused form 3.3 s (same ambient load as the 9.3 s leg
    // re-measure).
    "q_table_stats" -> { (s, dir) =>
      val statCols = Seq("l_orderkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      val li = Tables(s, dir).lineitem
      // min/max/nulls + the HLL estimate: ONE scan, no shuffle beyond
      // the 1-row final agg (approx_count_distinct is a mergeable
      // sketch, unlike countDistinct's Expand)
      val basicAggs = statCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
        approx_count_distinct(col(c), 0.02).as(s"andv_$c")))
      val basic = li.agg(basicAggs.head, basicAggs.drop(1): _*)
      // exact NDV for ALL columns through ONE distinct-pair shuffle
      // (stack → distinct → per-column count) instead of a shuffle
      // stage per column. Values stack into TYPED slots — a byte column
      // id plus the value in its native slot (long or double) — instead
      // of the former per-value strings (guide §2.3, shuffle fewer
      // bytes): injectivity per column is the identity map, so the
      // counts stay exact (a single DOUBLE slot for everything would
      // collide distinct BIGINT keys above 2^53 and undercount), and
      // the exchange carries ~17 bytes/row instead of a column-name
      // string plus a stringified value. The slot follows the column's
      // declared type; a type with no exact slot (a decimal would
      // collide in a double) fails loudly
      val slots = statCols.zipWithIndex.map { case (c, i) =>
        li.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            s"${i}Y, CAST($c AS BIGINT), CAST(NULL AS DOUBLE)"
          case FloatType | DoubleType =>
            s"${i}Y, CAST(NULL AS BIGINT), CAST($c AS DOUBLE)"
          case t => throw new IllegalArgumentException(
            s"q_table_stats: no NDV slot for $c of type $t")
        }
      }
      val ndv = li.select(expr("stack(" + statCols.length + ", " +
          slots.mkString(", ") + ") AS (cid, vl, vd)"))
        .filter(col("vl").isNotNull || col("vd").isNotNull)
        .distinct()
        .groupBy(col("cid")).agg(count(lit(1)).as("ndv"))
        .select(element_at(array(statCols.map(lit): _*),
          col("cid").cast("int") + 1).as("col_name"), col("ndv"))
      val rows = statCols.map(c => struct(lit(c).as("col_name"),
        col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v"),
        col(s"nulls_$c").as("n_nulls"), col(s"andv_$c").as("andv")))
      basic.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
        .join(broadcast(ndv), Seq("col_name"))
        .select(col("col_name"), col("min_v"), col("max_v"), col("n_nulls"),
          col("ndv"),
          (abs(col("andv") - col("ndv")) <= col("ndv") * 0.1 + 10)
            .as("approx_ok"))
        .orderBy(col("col_name"))
    },

    // Population-stability-index drift monitor (the ML-ops metric for
    // "did the feature distribution move between corpus snapshots"):
    // token-count distribution of the doc_id%2 halves, 10 exact-integer
    // bins, +1-smoothed shares, per-bin PSI terms and the total. All
    // counts exact; the ln-based terms are 9-dp-quantized and summed
    // through DECIMAL (the dsir logw order-free-sum pattern).
    "q_psi_drift" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
        .withColumn("n_toks",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
        .select(pmod(col("doc_id"), lit(2)).as("half"),
          least(lit(9L), expr("n_toks div 25")).as("bin"))
      val counts = docs.groupBy(col("bin")).agg(
        sum(when(col("half") === 0, 1).otherwise(0)).cast("long").as("n_ref"),
        sum(when(col("half") === 1, 1).otherwise(0)).cast("long").as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
      val terms = counts.crossJoin(broadcast(tot))
        .withColumn("p",
          (col("n_ref") + 1).cast("double") / (col("t_ref") + 10).cast("double"))
        .withColumn("q",
          (col("n_cur") + 1).cast("double") / (col("t_cur") + 10).cast("double"))
        .withColumn("term", round((col("p") - col("q")) * log(col("p") / col("q")), 9))
      val total = terms.agg(
        sum(col("term").cast("decimal(19,12)")).cast("double").as("psi"),
        max(col("t_ref")).as("t_ref"), max(col("t_cur")).as("t_cur"))
      terms.select(lit("bin").as("row_type"), col("bin"),
          col("n_ref"), col("n_cur"), col("term").as("value"))
        .unionByName(total.select(lit("total_psi").as("row_type"),
          lit(-1L).as("bin"), col("t_ref").as("n_ref"), col("t_cur").as("n_cur"),
          col("psi").as("value")))
        .orderBy(col("row_type"), col("bin"))
    },

    // Declarative data-quality expectations (the dbt-test /
    // Great-Expectations shape): each rule is one relational check —
    // not-null, key uniqueness, accepted range, referential integrity —
    // evaluated as aggregates/anti-joins, never row-at-a-time; the
    // report is one row per rule with checked/violation counts. The
    // uniqueness rule counts EXCESS rows (n - distinct), the FK rule is
    // a broadcast anti-join against the dimension.
    "q_expectations" -> { (s, dir) =>
      val t = Tables(s, dir)
      val cust = t.customer
      val orders = t.orders
      val notNull = cust.agg(
        count(lit(1)).as("n_checked"),
        (count(lit(1)) - count(col("c_name"))).as("n_violations"))
        .select(lit("customer.c_name not_null").as("rule"), col("n_checked"),
          col("n_violations"))
      val unique = cust.agg(
        count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("n_violations"))
        .select(lit("customer.c_custkey unique").as("rule"), col("n_checked"),
          col("n_violations"))
      val range = cust.agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("c_acctbal") < -1000.0 || col("c_acctbal") > 10000.0, 1)
          .otherwise(0)).cast("long").as("n_violations"))
        .select(lit("customer.c_acctbal in [-1000, 10000]").as("rule"),
          col("n_checked"), col("n_violations"))
      val fkViol = cust.join(broadcast(t.nation),
          col("c_nationkey") === col("n_nationkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val fk = cust.agg(count(lit(1)).as("n_checked"))
        .crossJoin(broadcast(fkViol))
        .select(lit("customer.c_nationkey fk nation").as("rule"),
          col("n_checked"), col("n_violations"))
      val dateRange = orders.agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2002-01-01").cast("timestamp"), 1)
          .otherwise(0)).cast("long").as("n_violations"))
        .select(lit("orders.o_orderdate in [1992, 2002)").as("rule"),
          col("n_checked"), col("n_violations"))
      Seq(notNull, unique, range, fk, dateRange).reduce(_ unionByName _)
        .select(col("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
        .orderBy(col("rule"))
    },

    // TPC-H Q5: the classic 6-way join (region-filtered nation revenue,
    // one order year) — customer and supplier must share the nation, so
    // the join graph has a cycle Catalyst must plan well: small dims
    // broadcast, the two fact joins shuffle on their keys.
    "q_join_q5" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },

    // TPC-H Q7 (volume shipping): the two-nation trade flow with the
    // directional OR join predicate — both (supp→cust) directions in
    // one pass. Nation dims broadcast; year extraction groups the
    // DECIMAL-exact revenue.
    "q_join_q7" -> { (s, dir) =>
      val t = Tables(s, dir)
      val n1 = t.nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t.nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t.supplier
        .join(t.lineitem, col("s_suppkey") === col("l_suppkey"))
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(t.customer, col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")) &&
          col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
            lit("1997-12-31").cast("timestamp")))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // TPC-H Q10 (returned-item revenue): top-20 customers by revenue
    // lost to returns in a quarter. The top-20 cut is a TakeOrdered
    // heap (revenue desc, custkey tie-break), never a global sort.
    "q_join_q10" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_returnflag") === "R")
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q8 (national market share): NATION_1's share of AMERICA's
    // MEDIUM-part import volume by order year. Two distinct nation
    // roles (customer region gate, supplier attribution) broadcast
    // separately; the share is one double division of two DECIMAL-exact
    // volumes, rounded identically on both engines.
    "q_join_q8" -> { (s, dir) =>
      val t = Tables(s, dir)
      val n1 = t.nation.select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = t.nation.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      t.lineitem
        .join(broadcast(t.part.filter(col("p_type") === "MEDIUM")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate").between(
          lit("1995-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          dsum6(when(col("supp_nation") === "NATION_1",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0))).as("nation_volume"),
          dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_volume"))
        .select(col("o_year"), col("nation_volume"), col("total_volume"),
          round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    // TPC-H Q13 (customer order-count distribution): LEFT join so
    // zero-order customers land in the c_count=0 bucket (the query's
    // whole point — an inner join would erase them), then one exact
    // count-of-counts aggregation.
    "q_join_q13" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // TPC-H Q14 (promo revenue share): one month's lineitems against
    // the broadcast part dim; the share is one double division of two
    // DECIMAL-exact revenues (the q_join_q8 device), ×100 spelled as
    // (100·a)/b on both engines.
    "q_join_q14" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          dsum6(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0))).as("promo_revenue"),
          dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
            .as("promo_share"))
    },

    // TPC-H Q17 (small-quantity-order revenue): the correlated
    // 0.2·avg(quantity) subquery decorrelated into one tiny per-part
    // aggregate over the BRAND-filtered parts only (the correlation key
    // is the part, so restricting first shrinks the agg to |brand
    // parts| rows — broadcast both the part filter and the averages).
    // The threshold compare is exact: davg's decimal-exact double, one
    // multiply, strict <, identical on both engines.
    "q_join_q17" -> { (s, dir) =>
      val t = Tables(s, dir)
      val brandParts = t.part.filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      val li = t.lineitem
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val avgQ = li.groupBy(col("l_partkey").as("__pk"))
        .agg(davg(col("l_quantity")).as("__avgq"))
      li.join(broadcast(avgQ), col("l_partkey") === col("__pk"))
        .filter(col("l_quantity") < lit(0.2) * col("__avgq"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .select(col("n_rows"), col("sum_price"),
          round(col("sum_price") / lit(7.0), 6).as("avg_yearly"))
    },

    // TPC-H Q18 (large-volume customers): orders whose total quantity
    // exceeds 300 — the HAVING aggregate joins back to its order and
    // customer; top-100 as a TakeOrdered heap with the order key as the
    // deterministic tiebreak.
    "q_join_q18" -> { (s, dir) =>
      val t = Tables(s, dir)
      val big = t.lineitem.groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },

    // Ordered conversion funnel (view → click → purchase): each step's
    // entry time must STRICTLY follow the previous step's — min-ts per
    // user per step with a progressive time filter, the standard funnel
    // definition (an unordered count-if would overcount users who
    // purchased before ever viewing). Three per-user aggregations, each
    // one hash shuffle on user_id; the step joins are user-cardinality
    // (post-aggregation), co-partitioned on the same key so AQE plans
    // them without a second exchange. Conversion ratios go through
    // exact integer counts and one double division (hash parity).
    "q_funnel" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val steps = v.agg(count(lit(1)).as("n")).select(lit(1).as("step"), lit("view").as("step_name"), col("n"))
        .unionByName(c.agg(count(lit(1)).as("n")).select(lit(2).as("step"), lit("click").as("step_name"), col("n")))
        .unionByName(p.agg(count(lit(1)).as("n")).select(lit(3).as("step"), lit("purchase").as("step_name"), col("n")))
      // 3-row frame: lag/first spelled as broadcast self-joins on the
      // step number — no WindowExec at all (a constant partition key
      // folds away and the plan audit would flag the single-partition
      // window, tiny as it is)
      val prevN = steps.select((col("step") + 1).as("step"), col("n").as("n_prev"))
      val firstN = steps.filter(col("step") === 1).select(col("n").as("n_first"))
      steps.join(broadcast(prevN), Seq("step"), "left")
        .crossJoin(broadcast(firstN))
        .select(col("step").cast("long").as("step"), col("step_name"),
          col("n").as("n_users"),
          round(col("n").cast("double") / coalesce(col("n_prev"), col("n")), 4)
            .as("conv_from_prev"),
          round(col("n").cast("double") / col("n_first"), 4).as("conv_from_first"))
        .orderBy(col("step"))
    },

    // Weekly retention cohorts: users grouped by the ISO week of their
    // first event; a cohort's week-k retention = share of its users
    // active in cohort_week + k. Two per-user shuffles (first-seen agg,
    // active-week distinct) + user-keyed join; ratios exact-int / one
    // double division.
    "q_retention" -> { (s, dir) =>
      // every user touches every week of the dense fixture — a 1-in-7
      // deterministic event sample spreads first-seen times so the
      // cohort matrix is non-trivial (same construction both engines)
      val ev = Tables(s, dir).events.filter(pmod(col("event_id"), lit(7)) === 0)
      val firsts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val cohortSizes = firsts.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_cohort"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      active.join(firsts, Seq("user_id"))
        .withColumn("week_offset",
          ((unix_timestamp(col("week")) - unix_timestamp(col("cohort_week")))
            / 604800L).cast("long"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(cohortSizes, Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("n_cohort"),
          col("n_active"),
          round(col("n_active").cast("double") / col("n_cohort"), 4)
            .as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
  )

  val oracles: Map[String, String] = Map(
    // the booleans are engine-side assertions (estimate within its error
    // bound); the oracle pins them to TRUE and checks the exact columns
    "q_approx_sketches" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n_rows,
           TRUE AS parts_ok, TRUE AS p50_ok, TRUE AS p95_ok
         FROM lineitem""",
    "q_sketch_merge" ->
      """SELECT count(*) AS n_rows,
           count(DISTINCT c_custkey) AS exact_customers,
           TRUE AS merge_ok
         FROM customer""",
    "q_map_filter" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS net_price
         FROM lineitem WHERE l_quantity >= 30 AND l_discount > 0.02
         ORDER BY l_orderkey, l_linenumber""",
    "q_pardo_props" ->
      """SELECT regexp_extract(props, '"k": (\d+)', 1) AS k, count(*) AS n
         FROM events GROUP BY k ORDER BY k""",
    "q_kv_ops" ->
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY event_type""",
    // all three buckets always present (the engine aggregates each branch
    // even when empty, so the oracle must emit n=0 rows too)
    "q_partition" ->
      """SELECT b.bucket, count(o_orderkey) AS n
         FROM (VALUES (0), (1), (2)) b(bucket)
         LEFT JOIN orders
           ON CASE o_orderstatus WHEN 'F' THEN 0 WHEN 'O' THEN 1 ELSE 2 END = b.bucket
         GROUP BY b.bucket ORDER BY b.bucket""",
    "q_with_timestamps" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts + (event_id % 120) * INTERVAL '1 minute') AS w_start,
           count(*) AS n
         FROM events GROUP BY w_start ORDER BY w_start""",
    "q_reshuffle" ->
      """SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_flatten" ->
      """SELECT * FROM (
           SELECT 'high' AS bucket, o_orderkey FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT 'urgent' AS bucket, o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY bucket, o_orderkey""",
    "q_groupbykey" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q_create" ->
      """SELECT k, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
         FROM (VALUES ('a', 1), ('b', 2), ('a', 3), ('c', 5)) t(k, v)
         GROUP BY k ORDER BY k""",
    // side input replayed as the join it semantically is
    "q_side_input" ->
      """SELECT COALESCE(n_name, 'unknown') AS nation_name, COUNT(*) AS n
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    // exact integer-cent sums; doubles only in the two final divisions.
    "q_combine_context" ->
      """WITH g AS (
           SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) AS tc,
                  COUNT(*) AS tn
           FROM customer)
         SELECT c_nationkey AS nationkey,
           round((CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) - tc / tn) / 100, 4) AS mean_deviation
         FROM customer, g GROUP BY c_nationkey, tc, tn
         ORDER BY nationkey""",

    "q_skew_report" ->
      """WITH v AS (
           SELECT CASE WHEN event_id % 10 < 6 THEN 'hot'
                       ELSE event_type END AS key_value
           FROM events),
         t AS (SELECT COUNT(*) AS total FROM v),
         g AS (SELECT key_value, COUNT(*) AS n_rows FROM v GROUP BY 1)
         SELECT key_value, n_rows,
           CAST(n_rows AS DOUBLE) / total AS share,
           CAST(FLOOR((n_rows * 32 + total - 1) / total) AS BIGINT) AS suggested_salt
         FROM g, t
         WHERE n_rows >= CEIL(0.05 * total)
         ORDER BY n_rows DESC, key_value""",

    "q_cogroup_sorted" ->
      """WITH s AS (
           SELECT l_orderkey, COUNT(*) AS cnt,
             MIN(CAST(epoch(l_shipdate) AS BIGINT)) AS firstship
           FROM lineitem GROUP BY l_orderkey)
         SELECT o_orderkey AS orderkey,
           COALESCE(cnt, 0) AS n_ship,
           CAST(COALESCE((firstship - CAST(epoch(o_orderdate) AS BIGINT)) // 86400,
             -1) AS BIGINT) AS first_gap_days
         FROM orders LEFT JOIN s ON l_orderkey = o_orderkey
         ORDER BY orderkey""",

    "q_sorted_group" ->
      """WITH g AS (
           SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS ts,
             lag(CAST(epoch(o_orderdate) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders)
         SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
           CAST(COALESCE(MAX(ts - prev), 0) // 86400 AS BIGINT) AS max_gap_days
         FROM g GROUP BY o_custkey ORDER BY custkey""",

    "q_cogroupbykey" ->
      """WITH c AS (
           SELECT c_nationkey AS nationkey, count(*) AS n_cust,
                  string_agg(c_name, ',' ORDER BY c_name) AS cust_csv
           FROM customer GROUP BY 1),
         s AS (
           SELECT s_nationkey AS nationkey, count(*) AS n_supp,
                  string_agg(s_name, ',' ORDER BY s_name) AS supp_csv
           FROM supplier GROUP BY 1)
         SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
                coalesce(n_cust, 0) AS n_cust, coalesce(cust_csv, '') AS cust_csv,
                coalesce(n_supp, 0) AS n_supp, coalesce(supp_csv, '') AS supp_csv
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
         ORDER BY nationkey""",
    "q_cogroup_nway" ->
      """WITH c AS (SELECT c_nationkey AS nationkey,
                      string_agg(c_name, ',' ORDER BY c_name) AS cust_csv
                    FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey,
                 string_agg(s_name, ',' ORDER BY s_name) AS supp_csv
               FROM supplier GROUP BY 1),
         n AS (SELECT n_nationkey AS nationkey,
                 string_agg(n_name, ',' ORDER BY n_name) AS nat_csv
               FROM nation GROUP BY 1)
         SELECT nationkey,
           coalesce(cust_csv, '') AS cust_csv,
           coalesce(supp_csv, '') AS supp_csv,
           coalesce(nat_csv, '') AS nat_csv
         FROM c FULL JOIN s USING (nationkey) FULL JOIN n USING (nationkey)
         ORDER BY nationkey""",
    "q_join_q3" ->
      """SELECT o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_semi" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_multiway" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts,
           v.event_id AS view_event_id, v.value AS view_value
         FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",
    "q_range_join" ->
      """WITH promos AS (
           SELECT o_orderkey AS promo_id,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS ps
           FROM orders WHERE o_orderkey % 1000 = 0),
         pts AS (
           SELECT datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS sd
           FROM lineitem)
         SELECT promo_id, count(*) AS n
         FROM pts, promos
         WHERE sd >= ps AND sd <= ps + 7
         GROUP BY promo_id ORDER BY promo_id""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_set_ops" ->
      """SELECT * FROM (
           SELECT 'both' AS op, nationkey FROM (
             SELECT DISTINCT c_nationkey AS nationkey FROM customer
             INTERSECT
             SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
           UNION ALL
           SELECT 'cust_only' AS op, nationkey FROM (
             SELECT DISTINCT c_nationkey AS nationkey FROM customer
             EXCEPT
             SELECT DISTINCT s_nationkey AS nationkey FROM supplier))
         ORDER BY op, nationkey""",
    "q_combine_global" ->
      """SELECT count(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
           count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem""",
    "q_top_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_top_perkey" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3
         ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""",
    "q_count_perelement" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_mean_stats" ->
      """SELECT c_mktsegment, count(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal,
           min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_sample_perkey" ->
      """SELECT event_id, event_type FROM (
           SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
               ORDER BY md5(coalesce(event_type, chr(0)) || '|' ||
                            coalesce(CAST(event_id AS VARCHAR), chr(0)))) AS rn
           FROM events)
         WHERE rn <= 5
         ORDER BY event_type, event_id""",
    "q_hotkey_sum" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_skew_planted" ->
      """WITH p AS (
           SELECT CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE l_suppkey END AS k,
                  l_quantity
           FROM lineitem)
         SELECT k, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM p GROUP BY k ORDER BY sum_qty DESC, k LIMIT 10""",
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS g1, coalesce(l_linestatus, 'ALL') AS g2, n
         FROM (SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
               GROUP BY ROLLUP(l_returnflag, l_linestatus))
         ORDER BY g1, g2""",
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS g1, coalesce(l_linestatus, 'ALL') AS g2, n
         FROM (SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
               GROUP BY CUBE(l_returnflag, l_linestatus))
         ORDER BY g1, g2""",
    "q_window_functions" ->
      """SELECT user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           round(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta
         FROM events ORDER BY user_id, rn""",

    "q_set_ops_all" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 2 = 0),
         b AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 3 = 0),
         ia AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
         ea AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
         SELECT op, l_suppkey, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT 'inter_all' AS op, l_suppkey FROM ia
           UNION ALL SELECT 'except_all', l_suppkey FROM ea)
         GROUP BY op, l_suppkey ORDER BY op, l_suppkey""",
    "q_window_ranking" ->
      """SELECT l_orderkey, l_quantity,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           first_value(l_quantity) OVER wf AS min_q,
           last_value(l_quantity) OVER wf AS max_q
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity),
                wf AS (PARTITION BY l_orderkey ORDER BY l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
         ORDER BY l_orderkey, l_quantity""",
    "q_percentile_exact" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_kll_quantiles" ->
      """SELECT l_returnflag AS flag, COUNT(*) AS n,
                TRUE AS q10_ok, TRUE AS q50_ok, TRUE AS q90_ok,
                TRUE AS merged_q50_ok
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_corpus_overlap" ->
      """WITH tok AS (
           SELECT doc_id % 2 AS half,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
               t -> t <> '')) AS token
           FROM documents)
         SELECT
           COUNT(DISTINCT CASE WHEN half = 0 THEN token END) AS exact_a,
           COUNT(DISTINCT CASE WHEN half = 1 THEN token END) AS exact_b,
           COUNT(DISTINCT token) AS exact_union,
           COUNT(DISTINCT CASE WHEN half = 0 THEN token END)
             + COUNT(DISTINCT CASE WHEN half = 1 THEN token END)
             - COUNT(DISTINCT token) AS exact_inter,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok
         FROM tok""",

    // pairwise exact vocabulary intersections; every sketch interval
    // containment boolean pins TRUE.
    "q_source_overlap_matrix" ->
      """WITH tok AS (
           SELECT DISTINCT source, token FROM (
             SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
                 t -> t <> '')) AS token
             FROM documents)),
         pairs AS (
           SELECT x.source AS source_a, y.source AS source_b,
             COUNT(*) AS exact_inter
           FROM tok x JOIN tok y
             ON x.token = y.token AND x.source < y.source
           GROUP BY x.source, y.source),
         allp AS (
           SELECT a.source AS source_a, b.source AS source_b
           FROM (SELECT DISTINCT source FROM documents) a
           JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source)
         SELECT allp.source_a AS source_a, allp.source_b AS source_b,
           COALESCE(exact_inter, 0) AS exact_inter, TRUE AS inter_ok
         FROM allp LEFT JOIN pairs
           ON allp.source_a = pairs.source_a AND allp.source_b = pairs.source_b
         ORDER BY allp.source_a, allp.source_b""",

    // theta set algebra: exact companions identical to q_corpus_overlap;
    // every sketch-side [lb, ub] containment boolean pins TRUE,
    // including the direct intersection/difference results.
    "q_theta_overlap" ->
      """WITH tok AS (
           SELECT doc_id % 2 AS half,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z'']+'),
               t -> t <> '')) AS token
           FROM documents)
         SELECT
           COUNT(DISTINCT CASE WHEN half = 0 THEN token END) AS exact_a,
           COUNT(DISTINCT CASE WHEN half = 1 THEN token END) AS exact_b,
           COUNT(DISTINCT token) AS exact_union,
           COUNT(DISTINCT CASE WHEN half = 0 THEN token END)
             + COUNT(DISTINCT CASE WHEN half = 1 THEN token END)
             - COUNT(DISTINCT token) AS exact_inter,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok,
           TRUE AS inter_ok, TRUE AS diff_ok
         FROM tok""",

    "q_pagerank_personalized" -> {
      val head = """WITH e0 AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, COUNT(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
eo AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o ON o.src = e.src),
seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer WHERE c_mktsegment = 'BUILDING'),
sn AS (SELECT n.node FROM nodes n JOIN seeds s ON s.node = n.node),
p AS (SELECT COUNT(*) AS n FROM sn),
nb AS (SELECT nodes.node,
         CASE WHEN sn.node IS NOT NULL THEN ((1000000000000 * 15 // 100) // p.n) ELSE 0 END AS b,
         CASE WHEN sn.node IS NOT NULL THEN (1000000000000 // p.n) ELSE 0 END AS r
       FROM nodes CROSS JOIN p LEFT JOIN sn ON sn.node = nodes.node),
r0 AS (SELECT node, r AS rank FROM nb)"""
      val iterations = (1 to 5).map { i =>
        s""",
c$i AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r${i - 1} r JOIN eo ON eo.src = r.node GROUP BY 1),
r$i AS (SELECT nb.node, nb.b + ((85 * COALESCE(c$i.s, 0)) // 100) AS rank
       FROM nb LEFT JOIN c$i ON c$i.node = nb.node)"""
      }.mkString
      head + iterations +
        "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r5 ORDER BY node"
    },
    // HITS replayed by unrolled CTEs — the pagerank device: exact
    // HUGEINT raw sums, one integer division per node per
    // half-iteration (L1 normalization to the 10^12 fixed point).
    "q_hits" -> {
      val head = """WITH e AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, COUNT(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM
  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
p AS (SELECT count(*) AS nn FROM nodes),
h0 AS (SELECT node, (1000000000000 // nn) AS s FROM nodes, p)"""
      val iters = (1 to 3).map { i =>
        s""",
a${i}r AS (SELECT e.dst AS node, SUM(CAST(h.s AS HUGEINT) * e.w) AS raw
       FROM h${i - 1} h JOIN e ON e.src = h.node GROUP BY 1),
a${i}t AS (SELECT SUM(raw) AS t FROM a${i}r),
a$i AS (SELECT n.node, COALESCE((r.raw * 1000000000000) // t.t, 0) AS s
       FROM nodes n CROSS JOIN a${i}t t LEFT JOIN a${i}r r ON r.node = n.node),
h${i}r AS (SELECT e.src AS node, SUM(CAST(a.s AS HUGEINT) * e.w) AS raw
       FROM a$i a JOIN e ON e.dst = a.node GROUP BY 1),
h${i}t AS (SELECT SUM(raw) AS t FROM h${i}r),
h$i AS (SELECT n.node, COALESCE((r.raw * 1000000000000) // t.t, 0) AS s
       FROM nodes n CROSS JOIN h${i}t t LEFT JOIN h${i}r r ON r.node = n.node)"""
      }.mkString
      head + iters + """
SELECT a3.node, CAST(a3.s AS BIGINT) AS authority, CAST(h3.s AS BIGINT) AS hub
FROM a3 JOIN h3 ON a3.node = h3.node ORDER BY a3.node"""
    },

    "q_pagerank" ->
      """WITH e0 AS (
  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, COUNT(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
eo AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o ON o.src = e.src),
p AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, (1000000000000 // n) AS rank FROM nodes, p),
c1 AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r0 r JOIN eo ON eo.src = r.node GROUP BY 1),
r1 AS (SELECT nodes.node,
         ((1000000000000 * 15 // 100) // p.n) + ((85 * COALESCE(c1.s, 0)) // 100) AS rank
       FROM nodes CROSS JOIN p LEFT JOIN c1 ON c1.node = nodes.node),
c2 AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r1 r JOIN eo ON eo.src = r.node GROUP BY 1),
r2 AS (SELECT nodes.node,
         ((1000000000000 * 15 // 100) // p.n) + ((85 * COALESCE(c2.s, 0)) // 100) AS rank
       FROM nodes CROSS JOIN p LEFT JOIN c2 ON c2.node = nodes.node),
c3 AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r2 r JOIN eo ON eo.src = r.node GROUP BY 1),
r3 AS (SELECT nodes.node,
         ((1000000000000 * 15 // 100) // p.n) + ((85 * COALESCE(c3.s, 0)) // 100) AS rank
       FROM nodes CROSS JOIN p LEFT JOIN c3 ON c3.node = nodes.node),
c4 AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r3 r JOIN eo ON eo.src = r.node GROUP BY 1),
r4 AS (SELECT nodes.node,
         ((1000000000000 * 15 // 100) // p.n) + ((85 * COALESCE(c4.s, 0)) // 100) AS rank
       FROM nodes CROSS JOIN p LEFT JOIN c4 ON c4.node = nodes.node),
c5 AS (SELECT eo.dst AS node, SUM((r.rank * eo.w) // eo.ow) AS s
       FROM r4 r JOIN eo ON eo.src = r.node GROUP BY 1),
r5 AS (SELECT nodes.node,
         ((1000000000000 * 15 // 100) // p.n) + ((85 * COALESCE(c5.s, 0)) // 100) AS rank
       FROM nodes CROSS JOIN p LEFT JOIN c5 ON c5.node = nodes.node)
SELECT node, CAST(rank AS BIGINT) AS rank FROM r5 ORDER BY node""",

    "q_table_stats" -> {
      val cols = Seq("l_orderkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS col_name,
            CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
            count(*) - count($c) AS n_nulls,
            count(DISTINCT $c) AS ndv, TRUE AS approx_ok
          FROM lineitem""").mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY col_name")
    },

    "q_psi_drift" ->
      """WITH d AS (
           SELECT doc_id % 2 AS half,
             least(9, len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) // 25) AS bin
           FROM documents),
         c AS (
           SELECT bin,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           FROM d GROUP BY bin),
         t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                      CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c),
         terms AS (
           SELECT c.bin, c.n_ref, c.n_cur,
             round((CAST(c.n_ref + 1 AS DOUBLE) / CAST(t.t_ref + 10 AS DOUBLE)
                  - CAST(c.n_cur + 1 AS DOUBLE) / CAST(t.t_cur + 10 AS DOUBLE))
               * ln((CAST(c.n_ref + 1 AS DOUBLE) / CAST(t.t_ref + 10 AS DOUBLE))
                  / (CAST(c.n_cur + 1 AS DOUBLE) / CAST(t.t_cur + 10 AS DOUBLE))), 9)
               AS term
           FROM c, t)
         SELECT row_type, bin, n_ref, n_cur, value FROM (
           SELECT 'bin' AS row_type, bin, n_ref, n_cur, term AS value FROM terms
           UNION ALL
           SELECT 'total_psi', CAST(-1 AS BIGINT), t.t_ref, t.t_cur,
             CAST((SELECT sum(CAST(term AS DECIMAL(19,12))) FROM terms) AS DOUBLE)
           FROM t)
         ORDER BY row_type, bin""",

    "q_expectations" ->
      """SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
         FROM (
           SELECT 'customer.c_name not_null' AS rule,
             count(*) AS n_checked, count(*) - count(c_name) AS n_violations
           FROM customer
           UNION ALL
           SELECT 'customer.c_custkey unique',
             count(*), count(*) - count(DISTINCT c_custkey)
           FROM customer
           UNION ALL
           SELECT 'customer.c_acctbal in [-1000, 10000]',
             count(*),
             CAST(sum(CASE WHEN c_acctbal < -1000.0 OR c_acctbal > 10000.0
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM customer
           UNION ALL
           SELECT 'customer.c_nationkey fk nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                WHERE n.n_nationkey = c.c_nationkey))
           UNION ALL
           SELECT 'orders.o_orderdate in [1992, 2002)',
             count(*),
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
               OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00'
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders)
         ORDER BY rule""",

    "q_join_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(22,6))) AS DOUBLE) AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1.0 - l_discount) AS volume
           FROM supplier, lineitem, orders, customer, nation n1, nation n2
           WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             AND c_custkey = o_custkey
             AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
             AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                AND TIMESTAMP '1997-12-31 00:00:00')
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "q_join_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6)))
             AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_join_q5" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6)))
             AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "q_join_q8" ->
      """SELECT o_year,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume
             ELSE 0.0 END AS DECIMAL(22,6))) AS DOUBLE) AS nation_volume,
           CAST(SUM(CAST(volume AS DECIMAL(22,6))) AS DOUBLE) AS total_volume,
           round(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume
               ELSE 0.0 END AS DECIMAL(22,6))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(22,6))) AS DOUBLE), 6)
             AS mkt_share
         FROM (
           SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1.0 - l_discount) AS volume,
             n2.n_name AS supp_nation
           FROM lineitem, part, orders, customer, supplier,
                nation n1, nation n2, region
           WHERE l_partkey = p_partkey AND p_type = 'MEDIUM'
             AND l_orderkey = o_orderkey
             AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
             AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
             AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
             AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                 AND TIMESTAMP '1996-12-31 00:00:00')
         GROUP BY o_year ORDER BY o_year""",

    "q_join_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
           SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
           FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
           GROUP BY c.c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q_join_q14" ->
      """SELECT
           CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
             AS DECIMAL(22,6))) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue,
           round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
               AS DECIMAL(22,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(22,6))) AS DOUBLE), 6) AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""",
    "q_join_q17" ->
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
         a AS (SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS avgq
           FROM lineitem JOIN bp ON l_partkey = p_partkey
           GROUP BY l_partkey)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
         FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
         WHERE l.l_quantity < 0.2 * a.avgq""",
    "q_join_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum_qty
         FROM customer, orders, (
           SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY l_orderkey) b
         WHERE c_custkey = o_custkey AND o_orderkey = b.l_orderkey
           AND sum_qty > 300
         ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
         s AS (SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM v) AS n
           UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
           UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
         SELECT CAST(step AS BIGINT) AS step, step_name, n AS n_users,
           round(CAST(n AS DOUBLE) / coalesce(lag(n) OVER (ORDER BY step), n), 4)
             AS conv_from_prev,
           round(CAST(n AS DOUBLE) / first_value(n) OVER (ORDER BY step), 4)
             AS conv_from_first
         FROM s ORDER BY step""",

    "q_retention" ->
      """WITH f AS (SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
             FROM events WHERE event_id % 7 = 0 GROUP BY 1),
         cs AS (SELECT cohort_week, count(*) AS n_cohort FROM f GROUP BY 1),
         a AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
           FROM events WHERE event_id % 7 = 0),
         j AS (SELECT f.cohort_week,
             CAST((epoch(a.week) - epoch(f.cohort_week)) // 604800 AS BIGINT)
               AS week_offset,
             count(*) AS n_active
           FROM a JOIN f USING (user_id) GROUP BY 1, 2)
         SELECT j.cohort_week, j.week_offset, cs.n_cohort, j.n_active,
           round(CAST(j.n_active AS DOUBLE) / cs.n_cohort, 4) AS retention
         FROM j JOIN cs USING (cohort_week)
         ORDER BY cohort_week, week_offset""",
  )
}
