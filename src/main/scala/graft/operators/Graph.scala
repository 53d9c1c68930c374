package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the authority-
  * scoring companion to Dedup's connected components. A 100 TB crawl
  * weights sources by link-graph centrality (PageRank — Page et al.,
  * "The PageRank Citation Ranking", 1999) before mixing; Common Crawl
  * publishes exactly this kind of host-level ranking for crawl
  * prioritization.
  *
  * Arithmetic contract: everything is 64-bit integer fixed-point
  * (ranks in units of scale⁻¹), so every operation — long sums
  * (associative/commutative), integer division — is EXACTLY
  * reproducible in any engine regardless of partitioning or order.
  * That is what lets the gate replay 5 full iterations in DuckDB and
  * hash-compare; float PageRank can only ever be compared with
  * tolerances.
  *
  * Scale posture: per iteration there is ONE shuffle join of the
  * (small) rank vector against the edge list pre-partitioned by src,
  * and one aggregation of contributions by dst — the textbook
  * relational PR shape. The edge list (with out-weights pre-joined) is
  * computed once and cached; lineage is flattened per iteration via
  * localCheckpoint, same as connected components.
  */
object Graph {

  /** Weighted PageRank, fixed iteration count, integer fixed-point.
    *
    * @param edges (src: long, dst: long, w: long) — directed, positive
    *              weights. Symmetrize first for undirected semantics.
    *              Nodes = src ∪ dst; a node with no OUT-edges keeps the
    *              teleport base only and its mass leaks (the standard
    *              dangling simplification — symmetrized graphs have no
    *              dangling nodes).
    * @param iters fixed iteration count (a convergence loop would need
    *              a per-iteration driver action anyway; fixed counts
    *              are also what makes the computation replayable)
    * @param scale fixed-point unit (rank 1.0 ≡ `scale`)
    * @return (node: long, rank: long) — Σ rank ≈ scale (minus integer
    *         rounding and dangling leak)
    */
  /** @param smallRanks when true (default), the per-iteration rank
    *        vector is broadcast into the edge join — right whenever
    *        |nodes| ≪ |edges| (host/domain graphs: millions of nodes,
    *        billions of edges). The edge list is materialized ONCE and
    *        never re-shuffles; one distributed aggregation per
    *        iteration. Flip to false for node sets too big to
    *        broadcast — iterations become co-partitioned shuffle joins
    *        on the same hash partitioning instead. */
  /** @param seeds when set, PERSONALIZED PageRank (Haveliwala 2002,
    *        "Topic-Sensitive PageRank"): the teleport distribution is
    *        uniform over the seed set instead of all nodes — random
    *        walks restart at the seeds, so ranks measure proximity to
    *        them (the "related items for THIS user segment" query).
    *        One column `node`; seeds absent from the graph are ignored
    *        (semi-join), and at least one must remain. Same integer
    *        fixed-point arithmetic, so the personalized run is exactly
    *        as replayable as the global one. */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               smallRanks: Boolean = true,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    // snapshot the edge list FIRST: nodes, out-weights, and eo all
    // derive from it — without this, an expensive upstream edge build
    // (join + groupBy) re-executes once per derived checkpoint
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // out-weights ride the edge list once; per-iteration joins then only
    // move the rank vector
    val eo = e.join(outw, "src").localCheckpoint()

    val n = nodes.count()
    require(n > 0, "empty graph")
    // overflow guard: total rank mass is conserved at ~`scale` units, so
    // the per-edge contribution product rank·w is bounded by scale·maxW;
    // a weight beyond Long.MaxValue/scale would wrap the product negative
    // SILENTLY (non-ANSI Spark) and corrupt every downstream rank
    val maxW = e.agg(max(col("w"))).head().getLong(0)
    require(maxW <= Long.MaxValue / scale,
      s"max edge weight $maxW overflows the fixed-point product at scale $scale; " +
        "pre-scale the weights or lower `scale`")
    // teleport base: ((scale * (dampDen-dampNum)) DIV dampDen) DIV nTele
    // — spelled exactly like this in the oracle SQL. Personalized runs
    // divide the same mass over the seed set only; non-seeds get base 0
    // and initial rank 0 (walks start AND restart at seeds).
    val seedNodes = seeds.map { sd =>
      nodes.join(broadcast(sd.select(col("node").cast("long").as("node"))),
        Seq("node"), "left_semi").localCheckpoint()
    }
    val nTele = seedNodes.map(_.count()).getOrElse(n)
    require(nTele > 0, "no seed node exists in the graph")
    val base = scale * (dampDen - dampNum) / dampDen / nTele
    val r0 = scale / nTele
    // nodes with their per-node teleport base + initial rank: constants
    // in the global walk, seed-gated in the personalized one
    val nodesB = (seedNodes match {
      case None =>
        nodes.select(col("node"), lit(base).as("__base"), lit(r0).as("__r0"))
      case Some(sn) =>
        nodes.join(broadcast(sn.withColumn("__is", lit(true))), Seq("node"), "left")
          .select(col("node"),
            when(col("__is"), lit(base)).otherwise(lit(0L)).as("__base"),
            when(col("__is"), lit(r0)).otherwise(lit(0L)).as("__r0"))
    }).localCheckpoint()

    val hint: DataFrame => DataFrame =
      if (smallRanks) broadcast(_) else identity
    // Each iteration materializes the (tiny) rank vector via
    // localCheckpoint and broadcasts it into the edge join: the big edge
    // list NEVER re-shuffles and never recomputes, each iteration is one
    // short job (broadcast join + one aggregation). Without the
    // checkpoint, iteration k's broadcast would re-execute iterations
    // 1..k-1 — quadratic re-evaluation (measured 13.6 s vs 2 s at sf0.1).
    var ranks = nodesB.select(col("node"), col("__r0").as("rank")).localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = eo.join(hint(ranks), col("src") === col("node"))
        .select(col("dst"), expr("rank * w DIV ow").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .withColumnRenamed("dst", "node")
      ranks = nodesB.join(hint(contribs), Seq("node"), "left")
        .select(col("node"),
          (col("__base") + expr(s"($dampNum * coalesce(s, CAST(0 AS BIGINT))) DIV $dampDen"))
            .as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the link-analysis
    * companion to [[pageRank]]: authority(i) = Σ_{j→i} hub(j)·w,
    * hub(i) = Σ_{i→j} authority(j)·w, each vector L1-normalized to
    * `scale` per half-iteration. Fixed-point integers throughout (the
    * pageRank device): raw sums accumulate in DECIMAL(38,0) (a raw
    * score is ≤ scale·totalW, past BIGINT on large graphs), and the
    * normalization is ONE integer division per node,
    * (raw·scale) div Σraw — order-free, oracle-replayable by unrolled
    * CTEs. Classical HITS L2-normalizes; L1 keeps the arithmetic exact
    * and only rescales the (scale-invariant) ranking.
    *
    * Scale posture: the edge list localCheckpoints once; per
    * half-iteration ONE broadcast join of the (node-sized) score vector
    * into the edges + one aggregation — the edge list never re-shuffles.
    *
    * @param edges (src: long, dst: long, w: long) directed positive
    * @return (node, authority, hub) fixed-point longs, each vector
    *         summing to ~scale (minus integer rounding)
    */
  def hits(edges: DataFrame, iters: Int,
           scale: Long = 1000000000000L,
           smallScores: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "empty graph")
    // ONE pass for both guards. (__raw * scale) runs in DECIMAL(38,0)
    // and __raw ≤ scale·Σw, so the normalization product needs
    // scale²·Σw ≤ 10³⁸ − 1 (strict: 10³⁸ exactly is one digit past the
    // type's max) — without this guard an overflow NULL would be
    // coalesce'd to 0 below, silently zeroing scores instead of
    // failing fast (ADVICE r10)
    val guards = e.agg(max(col("w")),
      sum(col("w").cast("decimal(38,0)"))).head()
    val maxW = guards.getLong(0)
    require(maxW <= Long.MaxValue / scale,
      s"max edge weight $maxW overflows the fixed-point product at scale $scale")
    val totW = guards.getDecimal(1)
    val wCap = (BigInt(10).pow(38) - 1) / (BigInt(scale) * BigInt(scale))
    // sum(w) overflowing DECIMAL(38,0) itself returns NULL (non-ANSI):
    // null-check first or the guard meant to fail fast would NPE instead
    require(totW != null,
      s"total edge weight overflows DECIMAL(38,0) itself; pre-scale weights")
    require(BigInt(totW.toBigInteger) <= wCap,
      s"total edge weight $totW overflows DECIMAL(38,0) normalization at " +
        s"scale $scale (cap $wCap); lower the scale or pre-scale weights")
    val hint: DataFrame => DataFrame =
      if (smallScores) broadcast(_) else identity
    // one matrix-vector pass: scores flow along `from` → accumulate at
    // `to`, then L1-normalize to `scale` with one integer division
    def pass(scores: DataFrame, from: String, to: String,
             outName: String): DataFrame = {
      val raw = e.join(hint(scores), col(from) === col("node"))
        .select(col(to).as("__n"),
          (col("__s").cast("decimal(38,0)") * col("w")).as("__c"))
        .groupBy(col("__n")).agg(sum(col("__c")).as("__raw"))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      nodes.join(hint(raw), col("node") === col("__n"), "left")
        .crossJoin(hint(tot))
        .select(col("node"),
          coalesce(expr(s"(__raw * $scale) DIV __tot"), lit(0L))
            .as(outName))
        .localCheckpoint()
    }
    val h0 = nodes.select(col("node"), lit(scale / n).as("hub"))
      .localCheckpoint()
    var hubs = h0
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      auths = pass(hubs.select(col("node"), col("hub").as("__s")),
        "src", "dst", "authority")
      hubs = pass(auths.select(col("node"), col("authority").as("__s")),
        "dst", "src", "hub")
    }
    auths.join(hubs, Seq("node"))
      .select(col("node"), col("authority"), col("hub"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, the deterministic synchronous variant): labels start as node
    * ids; each iteration every node adopts the label with the maximum
    * incident edge WEIGHT among its neighbors (ties by smallest label —
    * the determinism the asynchronous randomized original lacks), or
    * keeps its own label when isolated. Fixed iteration count, exact
    * integer weights throughout → the full replay is hash-exact under
    * unrolled-CTE oracles. Distinct from Dedup.connectedComponents: LPA
    * splits weakly-bridged regions CC would merge.
    *
    * Scale posture: per iteration ONE broadcast join of the node-sized
    * label vector into the (checkpointed, never re-shuffled) edge list,
    * one (node, label) weight aggregation, one min-struct argmax — no
    * per-node windows, no all-pairs.
    *
    * @param edges undirected (a: long, b: long, w: long) — symmetrized
    *              here, positive weights
    * @return (node, label) — community id = min surviving label
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), col("w").cast("long").as("w"))
    val sym = e.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("p"), col("w"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"), col("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .localCheckpoint()
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // incident weight per (node, neighbor-label); argmax by
      // (weight desc, label asc) via ONE min-struct aggregation
      val best = sym.join(broadcast(labels), col("dst") === col("node"))
        .groupBy(col("src"), col("label"))
        .agg(sum(col("w")).as("__wt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("__wt")).as("__nw"), col("label"))).as("__m"))
        .select(col("src").as("node"), col("__m.label").as("__new"))
      labels = labels.join(broadcast(best), Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Multi-source BFS hop distance, bounded depth — the reachability
    * companion to [[pageRank]] (proximity as a walk) and Dedup's
    * connected components (reachability without distance): hops =
    * length of the shortest edge path from the nearest seed, the
    * "how far is this item from the catalog core" curation signal.
    *
    * Scale posture: frontier-at-a-time relational BFS (the standard
    * Pregel-without-Pregel shape). Per hop: one equi-join of the
    * (small) frontier against the symmetrized edge list, one distinct,
    * one anti-join against the visited set — frontier and visited
    * broadcast under `smallFrontier` (right whenever |nodes| ≪ |edges|,
    * the host/item-graph case), so the big edge list never re-shuffles.
    * Lineage flattens per hop via localCheckpoint (the pageRank device)
    * and the loop short-circuits when a frontier empties.
    *
    * @param edges undirected edges (a: long, b: long); symmetrized here
    * @param seeds one column `node`; seeds absent from the graph still
    *              emit their hop-0 row (they are trivially reachable)
    * @param maxHops inclusive depth bound — nodes farther than this (or
    *              unreachable) are absent from the output
    * @return (node, hops) — hops = min over seeds, 0 for the seeds
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              smallFrontier: Boolean = true): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val hint: DataFrame => DataFrame =
      if (smallFrontier) broadcast(_) else identity
    // the frontier-empty flag rides each round's checkpoint job
    // (CheckpointOps — guide §1.2: one action per round, not two)
    var (dist, distN) = graft.spark.CheckpointOps.checkpointCounted(
      seeds.select(col("node").cast("long").as("node")).distinct()
        .withColumn("hops", lit(0L)))
    var frontier = dist.select(col("node"))
    var frontierN = distN
    var h = 1
    while (h <= maxHops && frontierN > 0) {
      val (next, n) = graft.spark.CheckpointOps.checkpointCounted(
        sym.join(hint(frontier), col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(hint(dist.select(col("node"))), Seq("node"), "left_anti"))
      // dist normally needs no checkpoint of its own: it is a shallow
      // union of already-checkpointed frontiers. But the union plan
      // grows one leaf per hop and the anti-join re-broadcasts the full
      // dist each hop, so deep traversals re-materialize it every 8
      // hops to keep plan depth bounded (ADVICE r14).
      dist = dist.union(next.withColumn("hops", lit(h.toLong)))
      if (h % 8 == 0) dist = dist.localCheckpoint()
      frontier = next
      frontierN = n
      h += 1
    }
    dist
  }

  /** Multi-source WEIGHTED shortest paths, bounded relaxation depth —
    * Bellman-Ford in its frontier (delta) form. The invariant after
    * round i is exact: dist(v) = min cost over paths of ≤ i edges, so a
    * fixed `maxIters` makes the result replayable as a depth-bounded
    * path enumeration (the [[bfsHops]] recursive-CTE oracle device,
    * with costs). Weights are exact LONGS and min() over longs is
    * order-free, so the whole computation is bit-reproducible on any
    * engine — the reason this is not a float Dijkstra.
    *
    * Scale posture: per round, one equi-join of the (small) improved
    * frontier against the symmetrized edge list, one min-aggregation of
    * candidate costs, one min-merge with the running dist vector —
    * frontier and dist broadcast under `smallDist` (right whenever
    * |nodes| ≪ |edges|), so the big edge list never re-shuffles (the
    * [[pageRank]] device). Lineage flattens per round via
    * localCheckpoint; the loop short-circuits when no node improves
    * (at that point the bounded result IS the true shortest-path fix
    * point).
    *
    * @param edges undirected weighted edges (a, b, w: long), w ≥ 0
    * @param seeds one column `node`; absent-from-graph seeds still
    *              emit their dist-0 row
    * @param maxIters relaxation rounds = max path edge count considered
    * @return (node, dist) — min over seeds of the cheapest ≤ maxIters-
    *         edge path; seeds at 0; nodes unreachable within the bound
    *         are absent
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, maxIters: Int,
                    smallDist: Boolean = true): DataFrame = {
    require(maxIters >= 0, s"maxIters must be >= 0, got $maxIters")
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val minW = e.agg(min(col("w"))).head()
    require(minW.isNullAt(0) || minW.getLong(0) >= 0,
      "negative edge weights break the bounded-depth min semantics")
    val sym = e.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint()
    val hint: DataFrame => DataFrame =
      if (smallDist) broadcast(_) else identity
    // the frontier-empty flag rides each round's checkpoint job
    // (CheckpointOps — guide §1.2: one action per round, not two)
    var (dist, distN) = graft.spark.CheckpointOps.checkpointCounted(
      seeds.select(col("node").cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)))
    var frontier = dist
    var frontierN = distN
    var i = 1
    while (i <= maxIters && frontierN > 0) {
      val cand = sym.join(hint(frontier), col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("__nd"))
        .groupBy(col("node")).agg(min(col("__nd")).as("__nd"))
      // strictly-better only: the frontier must shrink to empty at the
      // fix point or the loop would run all maxIters rounds on a
      // converged graph
      val (improved, n) = graft.spark.CheckpointOps.checkpointCounted(cand
        .join(hint(dist.withColumnRenamed("dist", "__d")), Seq("node"), "left")
        .filter(col("__d").isNull || col("__nd") < col("__d"))
        .select(col("node"), col("__nd").as("dist")))
      dist = dist.unionByName(improved)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      frontier = improved
      frontierN = n
      i += 1
    }
    dist
  }

  /** Per-node triangle counts via degree-ordered edge orientation
    * (Schank & Wagner 2005 / the MapReduce form in Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW 2011).
    *
    * Each undirected edge is oriented from its (degree, id)-lower
    * endpoint to its higher one; a triangle {a,b,c} is then found
    * exactly once, as the wedge at its order-minimal vertex closed by
    * the oriented edge between the other two. The wedge self-join fans
    * out by ORIENTED out-degree, which the ordering bounds by O(√|E|)
    * even at power-law hubs — the un-oriented join would square the hub
    * degree. All joins are equi-joins on node keys; no windows, no
    * global order.
    *
    * @param edges undirected edge list (a: long, b: long), one row per
    *              edge with a < b, no self-loops (callers dedupe)
    * @return (node, degree, n_tri) — n_tri = triangles containing the
    *         node; Σ n_tri = 3 · total triangles
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // snapshot first: deg and the orientation BOTH consume the edge
    // list, and an expensive upstream build (co-occurrence self-join +
    // distinct) would otherwise execute once per consumer — the
    // pageRank device (measured 6.8 s → ~4 s at sf0.1)
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    // orient by (degree, id): the struct comparison IS the total order —
    // no global rank window needed
    val keyed = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = keyed.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("id"), col("da").as("d")))
          .otherwise(struct(col("b").as("id"), col("db").as("d"))).as("lo"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("b").as("id"), col("db").as("d")))
          .otherwise(struct(col("a").as("id"), col("da").as("d"))).as("hi"))
      .select(col("lo.id").as("src"), col("hi.id").as("dst"),
        col("hi.d").as("dd"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.dd"), col("e1.dst")) <
            struct(col("e2.dd"), col("e2.dst"))))
      .select(col("e1.src").as("v1"), col("e1.dst").as("v2"),
        col("e2.dst").as("v3"))
    val triangles = wedges.join(
      oriented.select(col("src").as("v2"), col("dst").as("v3")),
      Seq("v2", "v3"))
    val perNode = triangles
      .select(explode(array(col("v1"), col("v2"), col("v3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** k-core extraction — the maximal subgraph in which every node has
    * degree ≥ k (Seidman, "Network structure and minimum degree",
    * 1983): iterative peeling of sub-k nodes to the fix point. The
    * standard dense-community / spam-farm screen over link graphs.
    *
    * Determinism: peeling is order-free — the fix point is unique
    * regardless of removal order (the k-core is the union of all
    * subgraphs with min-degree ≥ k), and degrees are exact integer
    * counts, so the surviving node set replays on any engine. The
    * DuckDB oracle does not iterate: it UNROLLS a fixed number of
    * peels — at the fix point further peels are no-ops, so any unroll
    * count ≥ the convergence depth yields the identical set (Verify
    * fails loudly if the fixture ever needs more).
    *
    * Scale posture: per peel, one hash aggregation for degrees and two
    * semi-joins of the edge list against the surviving-node set
    * (node-set frames are |V|-sized; the edge list never widens);
    * lineage flattens per peel via localCheckpoint; the loop
    * short-circuits when an iteration removes nothing.
    *
    * @param edges undirected edge list (a: long, b: long); self-loops
    *              dropped, duplicate/reversed rows collapse
    * @return (node, degree) — nodes of the k-core with their
    *         within-core degree; an empty core is an empty frame
    */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e0 = edges
      .select(least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    // edge count rides each checkpoint job (CheckpointOps — guide §1.2)
    var (sym, nEdges) = graft.spark.CheckpointOps.checkpointCounted(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"))))
    var converged = nEdges == 0L
    while (!converged) {
      // no separate checkpoint for the surviving-node set: both
      // semi-joins sit in ONE plan (pruned's), so the degree-filter
      // subtree is computed once via exchange reuse, and pruned's own
      // checkpoint still cuts the round's lineage — and the convergence
      // count rides that same job (one job per peel, guide §1.2)
      val alive = sym.groupBy(col("src")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("src").as("__node"))
      val (pruned, n2) = graft.spark.CheckpointOps.checkpointCounted(sym
        .join(alive, col("src") === col("__node"), "left_semi")
        .join(alive, col("dst") === col("__node"), "left_semi"))
      converged = n2 == nEdges
      nEdges = n2
      sym = pruned
    }
    sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }
}
