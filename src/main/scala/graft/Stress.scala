package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness for the dedup + similarity + contamination
  * families (dev tool, not a driver gate).
  *
  * The per-round bench runs every query at ONE scale (sf0.1), which can
  * hide a super-linear constant in the candidate-pair joins: LSH-bucket
  * and blocking-group sizes grow with duplicate density, and the verify
  * step inside each bucket is quadratic in group size. This main measures
  * that directly: it blows the sf0.1 documents table up `factor`× by
  * duplicate+perturb (copy 0 is the original; copy c>0 mutates ~1/37 of
  * tokens, a distinct subset per copy, so the copies of a document are
  * mutual near-dups at shingle-Jaccard ~0.85 — deliberately the WORST
  * case for candidate growth: every LSH bucket and every edit-distance
  * block gains ~factor members, so candidate pairs grow ~factor² per
  * group while corpus size grows only factor×). The embeddings table
  * gets the same treatment (per-copy coordinate-slice perturbation,
  * cosine ~0.9999). The contamination + cross-corpus queries ride the
  * same construction from the other side: their probes / reference
  * split derive from the same documents table, so each probe n-gram and
  * each reference shingle becomes a hot key with ~factor× the matching
  * corpus rows — the viral-probe case. Then each query is timed at 1×
  * and factor× (observed exponent e = log(t_fx / t_1x) / log(factor)),
  * and every boolean output column of the self-asserting queries is
  * re-checked all-TRUE at the stressed scale — the error-bound
  * guarantees must survive factor²-denser candidate structures, not
  * just the oracle fixture. Exit code 1 if any bound is violated.
  * Usage:
  *
  *   runMain graft.Stress [baseDir] [workDir] [factor] [q1,q2,…]
  *
  * (4th arg restricts the sweep to a query subset — for re-measuring one
  * family without paying for the rest.) Results are recorded in
  * SCALING.md §"Measured". The factor-2 sf0.001 pocket version of the
  * bound-check half runs inside `sbt test` (StressSpec) so the
  * self-assert bounds can't rot unobserved between manual runs.
  */
object Stress {
  val DedupQueries = Seq(
    "q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard",
    "q_editdist_neardup", "q_span_dedup")
  /** same worst-case construction for the embedding family: every
    * vector's copies are mutual near-dups at cosine ~0.9999, so SemDeDup
    * clusters, SRP buckets, and neardup candidate groups all gain
    * ~factor members */
  val EmbQueries = Seq(
    "q_semdedup", "q_embedding_neardup", "q_similarity_srp",
    "q_similarity_multiprobe", "q_cluster_sample", "q_hard_negatives",
    // image dHash near-dup: the corpus is ALREADY near-dup-dense by
    // construction; the blow-up multiplies band-bucket populations, so
    // the candidate equi-join is the part under test
    "q_image_neardup",
    "q_similarity_ivf", "q_similarity_pq", "q_similarity_ivfpq",
    // diversity selection: a duplicate-dense corpus is MMR's worst case
    // (the top-N fills with near-identical candidates, so the redundancy
    // penalty does maximal work) and k-center's easy case (copies never
    // widen the radius); the risk profile is both staying k bounded
    // relational stages over candidate-sized frames, never corpus joins
    "q_mmr_rerank", "q_kcenter_coreset")
  /** probe-hit / containment joins with the hot-key risk profile: a
    * probe n-gram (or reference shingle) shared by many corpus near-dups
    * is one join key with ~factor× matches — quadratic only if the plan
    * degrades to a per-group product instead of staying an equi-join */
  val ContamQueries = Seq(
    "q_contamination_exact", "q_contamination_ngram",
    "q_contamination_full", "q_crosscorpus_dedup", "q_decontam_scrub",
    "q_bloom_dedup",
    // round-10: novelty's corpus-vs-corpus distinct-gram hash join is
    // the dedup-anti-join risk profile — duplicate-dense copies multiply
    // both gram streams ~10× while the DISTINCT reductions must keep
    // the join input near-flat
    "q_ngram_novelty")
  /** token-stream aggregations with self-assert booleans worth re-proving
    * at duplicate-dense scale: BPE training (pair counts grow with the
    * duplicated stream; the scalar-replay booleans must keep holding),
    * the CMS guarantee (ε·N slack grows with N but so does collision
    * mass), and the classifier's held-out floors on a perturbed corpus */
  val TextQueries = Seq(
    "q_bpe_train", "q_cms_counts", "q_quality_classifier",
    "q_epoch_shuffle", "q_inverted_index",
    // round-8 additions: the native-aggregate CMS (rollup equality +
    // ε·N bounds where N grows with the blow-up) and the deflate
    // signal (back-reference/entropy orderings on perturbed copies)
    "q_cms_native", "q_compress_ratio",
    // round-10 additions: the KN bigram table under a duplicate-dense
    // corpus (context/continuation counts multiply ~uniformly — the
    // probability table barely moves while the bigram stream carries
    // 10× rows), the Zipf fit (top-K spectrum is corpus-size-flat by
    // construction), and the JS matrix (pair count fixed; only the
    // per-side frequency tables grow)
    "q_kneser_ney", "q_zipf", "q_js_divergence",
    // DSIR: duplicate-dense copies multiply every bucket count ~uniformly
    // on both sides, so the log-ratio table barely moves while the
    // (doc, bucket) aggregation carries factor× rows — the risk profile
    // is the scoring join staying a broadcast, never a shuffle join
    "q_dsir_select", "q_dsir_budget",
    // eval family: distinct-score tables and bins grow with duplicate
    // density but stay bounded by the score grid; the risk profile is
    // the prefix-sum range exchange staying reused, never re-scanned
    "q_dsir_score", "q_filter_eval", "q_calibration")

  /** round-8 lake/curation additions over the documents table: the
    * incremental-ingest flagship (every stage must stay linear when the
    * corpus is duplicate-dense — the dedup anti-join's fingerprint keys
    * go 10× hot), the leakage-safe split (cluster sizes grow ~10×, the
    * rep join must not super-linearize), weighted sampling (TakeOrdered
    * heap at 10× input), and theta set algebra (sketch work should be
    * nearly corpus-size-flat; the bound booleans re-prove at 10×). */
  val LakeQueries = Seq(
    "q_incremental_ingest", "q_split_leakage_safe", "q_weighted_sample",
    "q_theta_overlap")

  /** round-8 continued-session additions: URL canonical keys go 10×
    * hot (the recrawl-collapse aggregation must stay a hash agg, never
    * a per-key product), and the unigram EM's reconstruction/dominance/
    * cross-path-score booleans must re-prove on a corpus whose distinct-
    * word table gained ~factor× perturbed variants. */
  val WebTokQueries = Seq(
    "q_url_canon", "q_url_dedup", "q_unigram_train", "q_unigram_encode")

  /** Record-linkage family: the customer blow-up multiplies every name
    * combo's population ~factor×, so each (prefix, length) block gains
    * ~factor members and the in-block JW pair count grows ~factor² —
    * the same worst case the dedup blocking structures face. The risk
    * profile is the blocked join staying an equi-join (never a
    * cartesian) and CC absorbing ~factor²-denser near-clique edges. */
  val LinkageQueries = Seq("q_entity_resolution", "q_entity_clusters")

  /** Warehouse/CDC family: the orders blow-up re-keys factor× rows into
    * the SAME five priority partitions, so every touched partition's
    * rewrite carries factor× rows and the merge's anti-join keys go
    * factor× denser. The risk profile is partition-scoped work growing
    * linearly with partition size (never with table count), the
    * one-pass symmetric-diff audit staying a single hash aggregation,
    * and the summary refresh touching ONLY the changed partitions. */
  val UpsertQueries = Seq(
    "q_upsert_partitioned", "q_snapshot_diff", "q_incremental_report")

  /** Spatial grid-join family: the customer/supplier blow-up re-keys
    * every copy, so the Lehmer point/box positions re-deal uniformly —
    * per-cell population grows ~factor× and within-cell candidate pairs
    * grow ~factor² (the fixed-grid analogue of the dedup blocking blow-
    * up). The risk profile is the cell equi-join staying an equi-join
    * with density-bounded fan-out — the OUTPUT is inherently ~factor²
    * pairs for radiusJoin (plus its global ORDER BY), so the measured
    * exponent includes genuinely quadratic output growth; knn stays
    * ~linear in output (k-bounded) with factor²-denser candidates. */
  val SpatialQueries = Seq(
    "q_spatial_join", "q_spatial_knn", "q_spatial_contain")

  /** Round-11 additions (VERDICT r10 task 4) — the round-10 families at
    * 10×. Graph: the lineitem blow-up re-keys l_orderkey in lockstep
    * with orders, so every copy re-creates the same customer→supplier
    * edges — node set CONSTANT, edge-list input ~factor× rows and
    * factor× heavier weights; the risk profile is the per-iteration
    * broadcast join and edge aggregation staying linear in edge rows
    * while the score vectors stay node-sized. */
  val GraphStressQueries = Seq("q_hits", "q_label_prop")

  /** Series/rank-stats: the events blow-up multiplies every hourly/4-h
    * slot's population ~factor× with an UNCHANGED slot grid, so the
    * chain recurrences (Holt-Winters) do identical work per slot over
    * factor× pre-aggregation input; lineitem/part blow-ups multiply
    * every rank/ANOVA group ~factor× (massive tie growth — the doubled-
    * rank and conditional-sum pivots must stay single hash
    * aggregations, never per-group products). */
  val SeriesStatsQueries = Seq(
    "q_holt_winters", "q_mase", "q_kruskal", "q_anova", "q_brown_forsythe")

  /** IVM/erase: orders and documents blow-ups grow every touched
    * partition ~factor× with an unchanged partition count — delta-rule
    * view maintenance and the GDPR erase merge must scale with touched-
    * partition bytes. */
  val IvmQueries = Seq("q_ivm_join", "q_gdpr_erase")

  /** Queries with no self-assert booleans (their outputs are data, not
    * bounds) — boundViolations skips them instead of paying a full
    * stressed-scale execution just to read an empty schema (CC's and
    * hits()'s constructions run eager actions). */
  val NoBoundCheck: Set[String] = Set("q_entity_resolution", "q_entity_clusters",
    "q_mmr_rerank", "q_kcenter_coreset",
    "q_spatial_join", "q_spatial_knn", "q_spatial_contain",
    "q_hits", "q_label_prop")

  def allQueries: Seq[String] =
    DedupQueries ++ EmbQueries ++ ContamQueries ++ TextQueries ++ LakeQueries ++
      WebTokQueries ++ LinkageQueries ++ SpatialQueries ++ UpsertQueries ++
      GraphStressQueries ++ SeriesStatsQueries ++ IvmQueries

  /** Boolean OUTPUT columns that are data, not bounds (legitimately
    * mixed TRUE/FALSE per row) — excluded from the all-TRUE check. */
  val MixedBoolCols: Map[String, Set[String]] = Map(
    "q_upsert_partitioned" -> Set("rewritten"),
    "q_incremental_report" -> Set("refreshed"))

  private def releaseCaches(): Unit = Caches.releaseAll()

  /** Duplicate+perturb `baseDir`'s documents + embeddings `factor`× into
    * `workDir` — the worst-case near-dup-dense corpus described above. */
  def blowUp(spark: SparkSession, baseDir: String, workDir: String, factor: Int): Unit = {
    import GrowFixture.{copies, rekey}
    def write(df: DataFrame, name: String): Unit = GrowFixture.write(df, workDir, name)
    val base = Tables(spark, baseDir)

    // duplicate + perturb: token positions (i + 7c) % 37 == 0 get a
    // copy-specific suffix, so each copy differs from the original (and
    // from every other copy) in a distinct ~2.7% token slice.
    write(copies(base.documents, factor)
      .withColumn("text", when(col("copy") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), "\\s+"), (t, i) =>
          when(pmod(i + col("copy") * 7, lit(37)) === 0,
            concat(t, lit("q"), col("copy"))).otherwise(t)))))
      .withColumn("doc_id", col("doc_id") * factor + col("copy"))
      .withColumn("n_chars", length(col("text")))
      .drop("copy"), "documents")

    // embeddings: copy c scales every 13th coordinate (offset by c) by
    // (1 + c/1000) — distinct coordinate slices per copy, cosine to the
    // original ~0.9999, well above every near-dup threshold in use
    write(copies(base.embeddings, factor)
      .withColumn("embedding", when(col("copy") === 0, col("embedding"))
        .otherwise(transform(col("embedding"), (x, i) =>
          when(pmod(i + col("copy"), lit(13)) === 0,
            x * (lit(1.0f) + col("copy").cast("float") / 1000.0f))
            .otherwise(x))))
      .withColumn("vec_id", col("vec_id") * factor + col("copy"))
      .drop("copy"), "embeddings")

    // customer: plain duplication with re-keying (no perturbation —
    // names in the linkage queries DERIVE from the key arithmetic, so
    // key*factor+copy re-deals the copies across the same 1024 name
    // combos, multiplying every (prefix, length) block's population
    // ~factor× — exactly the in-block pair blow-up under test)
    write(rekey(base.customer, factor, "c_custkey"), "customer")

    // supplier: same re-keying — the containment query's catchment boxes
    // derive from s_suppkey Lehmer arithmetic, so factor× suppliers =
    // factor× boxes re-dealt over the same grid; with factor× points the
    // per-cell points×boxes product grows ~factor²
    write(rekey(base.supplier, factor, "s_suppkey"), "supplier")

    // lineitem: l_orderkey re-keys in LOCKSTEP with orders below, so
    // copy c of a lineitem row joins copy c of its order — the
    // customer→supplier graph keeps its node set while every edge's
    // input rows multiply factor×; rank-stats groups (pmod l_suppkey)
    // gain factor× members with massive tie density
    write(rekey(base.lineitem, factor, "l_orderkey"), "lineitem")

    // events: re-keyed duplication with UNCHANGED timestamps/types —
    // every hourly/4-hour slot's population grows factor× on a fixed
    // slot grid, so chain recurrences do identical per-slot work over
    // factor× aggregation input
    // via Tables: the fixture's TIMESTAMP(NANOS) encoding needs the
    // legacy-long read + µs normalization; the rewrite lands as plain
    // TIMESTAMP(MICROS), which Tables reads back natively
    write(rekey(base.events, factor, "event_id"), "events")

    // part: re-keyed duplication — every (p_type, p_brand) ANOVA cell
    // grows factor× members with identical values (pure tie growth)
    write(rekey(base.part, factor, "p_partkey"), "part")

    // orders: re-keying into the SAME five priority partitions — every
    // partition grows factor× rows, so the upsert family's touched-
    // partition rewrites, fingerprint anti-joins, and one-pass
    // symmetric-diff audits all carry factor× data with an unchanged
    // partition count (the modular update/delete/insert rules keep
    // selecting ~the same fractions of the re-keyed key space)
    write(rekey(base.orders, factor, "o_orderkey"), "orders")
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Validate, not just time: the self-asserting queries pin
    * engine-computed bound booleans TRUE at oracle scale — they must
    * ALSO hold at the stressed scale, where the candidate structures are
    * ~factor² denser. Generic: every boolean output column of a stressed
    * query must be all-TRUE. Returns the violated columns per query
    * (empty map = all bounds hold). */
  def boundViolations(spark: SparkSession, dir: String,
                      queries: Seq[String]): Map[String, Seq[String]] =
    queries.filterNot(NoBoundCheck).flatMap { name =>
      val out = SparkEntry.queries(name)(spark, dir)
      val mixed = MixedBoolCols.getOrElse(name, Set.empty)
      val boolCols = out.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType)
        .map(_.name).filterNot(mixed)
      val bad =
        if (boolCols.isEmpty) Nil
        else
          try {
            val aggs = boolCols.map(c => coalesce(bool_and(col(c)), lit(true)).as(c))
            val row = out.agg(aggs.head, aggs.drop(1).toIndexedSeq: _*).head()
            boolCols.zipWithIndex.collect {
              case (c, i) if !row.getBoolean(i) => c
            }.toSeq
          } finally releaseCaches()
      if (boolCols.isEmpty) None else Some(name -> bad)
    }.toMap

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_stress")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // an explicit list is checked by the shared selector, and runs in the
    // order given
    val queries = args.lift(3).fold(allQueries) { spec =>
      val picked = SparkEntry.subset(Some(spec))
      spec.split(',').map(_.trim).filter(picked.contains).distinct.toSeq
    }
    val spark = GraftSession.get()

    blowUp(spark, baseDir, workDir, factor)

    // same discipline as Bench: warm codegen at the smallest fixture,
    // then best-of-2 timed runs per (query, scale).
    queries.foreach { name =>
      try force(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
      finally releaseCaches()
    }
    System.gc()
    def time(name: String, dir: String): Double = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        force(SparkEntry.queries(name)(spark, dir))
        releaseCaches()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    val rows = queries.map { name =>
      val t1 = time(name, baseDir)
      val tf = time(name, workDir)
      val e = math.log(tf / t1) / math.log(factor.toDouble)
      System.err.println(f"[stress] $name%-20s 1x=$t1%7.2fs ${factor}x=$tf%7.2fs exponent=$e%.2f")
      (name, t1, tf, e)
    }
    val violations = boundViolations(spark, workDir, queries)
    violations.foreach { case (name, bad) =>
      System.err.println(s"[stress-check] $name at ${factor}x: " +
        (if (bad.isEmpty) "all bound booleans hold"
         else s"VIOLATED: ${bad.mkString(", ")}"))
    }
    val checksFailed = violations.valuesIterator.map(_.length).sum
    val qs = rows.map { case (n, t1, tf, e) =>
      f""""$n":{"t_1x":$t1,"t_${factor}x":$tf,"exponent":$e%.3f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","factor":$factor,"base":"$baseDir","queries":$qs,"bound_checks_failed":$checksFailed}""")
    spark.stop()
    if (checksFailed > 0) sys.exit(1)
  }
}
