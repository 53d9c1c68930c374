package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document deduplication for pretraining-data pipelines — exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup (builder mandate;
  * SURVEY.md §7 Phase 4).
  *
  * Scale posture: every path is a constant number of shuffles with
  * map-side partial aggregation; the only quadratic step (candidate
  * verification) is confined to LSH buckets, whose size is capped to guard
  * against degenerate buckets (boilerplate shingles at 100 TB WILL produce
  * them).
  */
object Dedup {

  // Internal persisted frames (signature/shingle caches are read 3× per
  // candidate-generation call). They are registered here so long-lived
  // sessions can release them: see [[releasePersistedState]].
  private val persisted =
    scala.collection.mutable.ListBuffer.empty[DataFrame]

  private def track(df: DataFrame): DataFrame = persisted.synchronized {
    persisted += df
    df.persist()
  }

  /** Unpersist every cache this module created (REPL/long-lived-driver
    * hygiene; lazily-returned frames recompute afterwards). */
  def releasePersistedState(): Unit = persisted.synchronized {
    persisted.foreach(_.unpersist())
    persisted.clear()
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the smallest id per normalized-text group. One
    * hash-aggregate shuffle (min_by partial-aggregates map-side — cheaper
    * than a window sort at scale). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactByKey(df, idCol, TextFunctions.fingerprint(col(textCol)))

  /** Exact dedup with a caller-supplied grouping key (e.g. md5 of the
    * normalized text when the key must be portable across engines). */
  def exactByKey(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))
      .select(col("keeper"), col("n_dups"))

  /** Exact dedup keeping whole rows: semi-structured variant of [[exact]]
    * (min_by over the full row struct). */
  def exactRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val cols = df.columns.toIndexedSeq.map(col)
    df.groupBy(fp.as("fp"))
      .agg(min_by(struct(cols: _*), col(idCol)).as("row"))
      .select(col("row.*"))
  }

  // -------------------------------------------------------------- MinHash

  /** MinHash signature: position j holds min over shingles of a j-salted
    * 64-bit hash — the standard permutation approximation. Runs as a
    * single-pass native Expression (graft.functions.ShingleExprs.MinHashSig)
    * — the Column-combinator forms are interpreted HOFs and were measured
    * 10-30× slower at equal hash values. */
  def minHashSignature(text: Column, numHashes: Int, shingleK: Int): Column =
    graft.functions.ShingleExprs.minHashSignature(text, shingleK, numHashes)

  /** LSH banding: split the signature into `bands`, hash each band →
    * array of (band, bucket) structs. Docs sharing any band-bucket are
    * candidates. */
  def lshBandBuckets(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"), xxhash64(b, slice(sig, b * lit(r) + 1, lit(r))).as("bucket")))
  }

  /** Estimated Jaccard from two signatures: fraction of agreeing
    * positions. Runs once per LSH candidate pair, so the agreement count
    * is a native expression (the zip_with HOF form it replaces runs an
    * interpreted closure per position per pair — parity asserted in
    * ShingleExprsSpec). */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    graft.functions.ShingleExprs.sigAgreement(sigA, sigB).cast("double") / numHashes

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band →
    * bucket-join → verify estimated Jaccard ≥ threshold.
    *
    * `maxBucket` drops pathological buckets (a bucket of m docs yields
    * m²/2 candidates; boilerplate text at corpus scale makes m huge).
    * Dropped buckets are the standard recall/robustness trade.
    */
  /** Default LSH bucket-size cap — the recall/robustness trade shared by
    * [[minHashPairs]] and [[dedupNearDuplicates]]. */
  val DefaultMaxBucket: Int = 1000

  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, shingleK: Int = 3, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucket: Int = DefaultMaxBucket): DataFrame =
    minHashPairsTracked(df, idCol, textCol, numHashes, shingleK, bands,
      threshold, maxBucket, track)

  /** [[minHashPairs]] with a caller-supplied cache tracker, so pipeline
    * wrappers (e.g. [[dedupNearDuplicates]]) can release the internal
    * signature cache as soon as their own downstream is materialized
    * instead of parking it in the module registry for the JVM lifetime. */
  private def minHashPairsTracked(df: DataFrame, idCol: String, textCol: String,
                                  numHashes: Int, shingleK: Int, bands: Int,
                                  threshold: Double, maxBucket: Int,
                                  tracker: DataFrame => DataFrame): DataFrame = {
    // Zero-token docs (digits-only, punctuation, non-Latin scripts the
    // tokenizer can't see) all hash the empty shingle — token-based
    // similarity has NO signal on them, and without this filter they all
    // look mutually identical and collapse to one survivor. Same guard on
    // every token-shingle pair generator in this module.
    val tokenized = df.filter(size(TextFunctions.tokens(col(textCol))) > 0)
    // Persist the signatures: they are read three times (band explode +
    // both sides of the verify join-back). Recomputing means re-hashing
    // every shingle numHashes times per read — the dominant cost.
    val sig = tracker(tokenized.select(
      col(idCol).as("id"),
      minHashSignature(col(textCol), numHashes, shingleK).as("sig")))
    // candidate generation carries only (bucket, id) — the signatures join
    // back AFTER dedup, so the wide arrays never ride through the shuffle
    val exploded = sig
      .select(col("id"), explode(lshBandBuckets(col("sig"), numHashes, bands)).as("bk"))
    // guard: cap bucket size via groupBy + semi-join-back rather than a
    // per-bk window count: the grouped count partial-aggregates map-side
    // and the join can AQE-skew-split, where a window partition would
    // materialize every row of the hottest bucket in one task — the exact
    // skew this cap exists to defuse (same shape as the maxDf cap in
    // [[dedupAgainstReference]]).
    val okBuckets = exploded.groupBy(col("bk"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select(col("bk"))
    val bounded = exploded.join(okBuckets, Seq("bk"), "left_semi")
    // Rename the join key per side: a self-join on two projections of the
    // same frame resolves `a("bk") === b("bk")` to ONE attribute (trivially
    // true → cross join). Distinct names keep it a real equi-join.
    val a = bounded.select(col("bk").as("bk_a"), col("id").as("id_a"))
    val b = bounded.select(col("bk").as("bk_b"), col("id").as("id_b"))
    a.join(b, col("bk_a") === col("bk_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash: per-bit vote over k-shingle xxhash64 hashes, sign
    * of each vote → bit. Native Expression
    * (graft.functions.ShingleExprs.SimHash64) — the Column form folds a
    * 64-wide vote array per shingle through interpreted HOFs. 64 bits
    * AND shingle features per Manku et al. WWW'07 — both decisions
    * measured at the 500k-doc sf10 cut: 8-bit chunks (32-bit width)
    * blew candidates to ~n²/256 (ENOSPC), and unigram-token votes
    * correlate same-distribution docs (15% of the corpus in ONE 16-bit
    * chunk bucket, 11.8e9 candidates) where shingle votes decorrelate
    * them (max bucket = the true near-dup family, 560× fewer
    * candidates). See the expression's Scaladoc for the numbers. */
  def simHash(text: Column, shingleK: Int = 3): Column =
    graft.functions.ShingleExprs.simHash(text, shingleK)

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on combinations of signature blocks
    * (pigeonhole: hamming ≤ maxDist ⇒ at least one combination of
    * blocks − maxDist blocks is untouched — complete for any
    * maxDist < 64; the default blocks = maxDist+1 degenerates to
    * one-chunk keys), verify with bit_count.
    *
    * Unlike [[minHashPairs]] (wide signature arrays that must join back
    * AFTER candidate dedup), a simhash is ONE long — cheaper to carry
    * through the chunk explode and candidate join than to re-join twice:
    * verify inline, THEN dedup the (already-filtered) survivors. The
    * signature frame is still persisted: the self-join scans it from
    * both sides, and without the cache the upstream plan and the per-doc
    * simHash would compute twice.
    *
    * `rotation` rotates the 64-bit signature before chunking (and only
    * for chunking — emitted distances are always of the un-rotated
    * signatures). Rotation preserves Hamming distance, so ANY rotation
    * yields a complete blocking and the emitted pair set must be
    * IDENTICAL across rotations — two runs with different rotations are
    * an end-to-end execution cross-check with zero shared bucket keys
    * (the self-asserting form q_dedup_simhash pins).
    *
    * `shingleK` is the signature's feature width (see [[simHash]]);
    * `maxBucket` caps candidate buckets (the minHashPairs
    * recall/robustness trade; <= 0 disables — see the inline note). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, rotation: Int = 0,
                   blocks: Int = 0, shingleK: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist must be in [0, 64)")
    require(rotation >= 0 && rotation < 64, "rotation must be in [0, 64)")
    // Generalized Manku blocking (WWW'07 §3.1.1): split the signature
    // into `blocks` ≥ maxDist+1 blocks and key each candidate table on a
    // (blocks − maxDist)-combination of them. A pair within Hamming
    // maxDist has differing bits in at most maxDist blocks, so at least
    // blocks − maxDist blocks agree — and some combination lies entirely
    // inside the agreeing set (pigeonhole): every true pair shares a key
    // in ≥1 of the C(blocks, blocks−maxDist) tables, for ANY blocks.
    // More blocks = wider effective keys (combination width ≈
    // 64·(blocks−maxDist)/blocks bits) = fewer collisions per bucket, at
    // the cost of more tables — the knob that keeps candidates sane as
    // the corpus grows past what single-chunk keys (blocks = maxDist+1,
    // the default: C(k,1) = k tables on 64/k-bit chunks) can carry.
    // The emitted pair set is IDENTICAL for every valid blocks value
    // (completeness + exact verify), which q_dedup_simhash pins as a
    // third execution cross-check alongside rotation.
    val numBlocks = if (blocks <= 0) maxDist + 1 else blocks
    require(numBlocks > maxDist && numBlocks <= 64,
      s"blocks must be in (maxDist, 64], got $numBlocks")
    val keyBlocks = numBlocks - maxDist
    // zero-token docs carry no token signal — see minHashPairs guard
    val sh = track(df
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"), simHash(col(textCol), shingleK).as("sh")))
    // 64-bit rotate-left via bitwise ops (shift + or — the full-width
    // long has no headroom for the decimal-arithmetic form)
    val rot =
      if (rotation == 0) col("sh")
      else shiftleft(col("sh"), rotation)
        .bitwiseOR(shiftrightunsigned(col("sh"), 64 - rotation))
    def blockVal(b: Int): Column = {
      val lo = b * 64 / numBlocks
      val hi = (b + 1) * 64 / numBlocks
      // unsigned extraction of bits [lo, hi); a full-width block
      // (numBlocks == 1 — only reachable when maxDist == 0) is the
      // signature itself
      if (hi - lo >= 64) col("r")
      else shiftrightunsigned(col("r"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
    }
    val chunkStructs = (0 until numBlocks).combinations(keyBlocks).toSeq
      .zipWithIndex.map { case (combo, t) =>
        // positional field names: every element of the exploded array
        // must share one struct type
        struct(lit(t).as("tbl") +:
          combo.zipWithIndex.map { case (b, i) => blockVal(b).as(s"k$i") }: _*)
      }
    val chunks = sh.select(col("id"), col("sh"), rot.as("r")).select(col("id"), col("sh"),
      explode(array(chunkStructs: _*)).as("ck"))
    // Mega-bucket cap, the minHashPairs device (grouped count +
    // left-semi back-join — partial-aggregates map-side, AQE can
    // skew-split the join; a per-ck window would materialize the
    // hottest bucket in one task, the exact skew this defuses). A
    // bucket of m docs is m²/2 candidates: shingle-feature signatures
    // keep buckets at true-near-dup-family size on healthy corpora
    // (measured, see simHash), so the cap is the backstop for the
    // degenerate ones (mass-identical docs — run exact dedup first).
    // maxBucket <= 0 disables. NOTE: with a finite cap, the
    // rotation/blocks pair-set identity holds only while no bucket
    // exceeds the cap (each geometry drops ITS OWN oversized buckets);
    // the q_dedup_simhash cross-checks run where the cap is inactive.
    val bounded =
      if (maxBucket <= 0) chunks
      else chunks.join(
        chunks.groupBy(col("ck")).agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBucket).select(col("ck")),
        Seq("ck"), "left_semi")
    // per-side key rename: see minHashPairs — a shared attribute would
    // degenerate the equi-join into a cross join
    val a = bounded.select(col("ck").as("ck_a"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = bounded.select(col("ck").as("ck_b"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("ck_a") === col("ck_b") && col("id_a") < col("id_b"))
      .withColumn("dist", hamming(col("sh_a"), col("sh_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard similarity between two shingle-hash arrays
    * treated as sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact-Jaccard near-dup pairs via prefix filtering (AllPairs/PPJoin
    * family): if J(A,B) ≥ t, the prefixes of length |X| − ⌈t·|X|⌉ + 1 under
    * ANY consistent global shingle order must share an element (pigeonhole),
    * so an equi-join on prefix shingles generates a complete candidate set.
    * Exact verification then makes the output IDENTICAL to the all-pairs
    * scan — same oracle — while the plan is a shuffled equi-join instead of
    * a cartesian product.
    *
    * The global order is ascending DOCUMENT FREQUENCY (the PPJoin
    * canonicalization, Xiao et al. WWW'08): prefixes then hold each set's
    * rarest shingles, so boilerplate n-grams shared by half the corpus
    * never generate candidates. Candidates are additionally pruned by the
    * size bound J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|) — both exact,
    * measured 5× fewer candidates and ~2.5× faster end-to-end than
    * hash-ordered prefixes on the sf0.1 fixture. The df table costs two
    * extra shuffles of (id, shingle) pairs — at corpus scale that is the
    * trade that keeps the candidate join subquadratic on skewed text. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    // persist the raw shingle sets: the exploded frame below feeds BOTH
    // the df-count branch and the reorder join, and without the cache each
    // branch would re-shingle the whole corpus
    val sets = track(df
      .filter(size(TextFunctions.tokens(col(textCol))) > 0) // no token signal → no candidacy
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingleHashes(col(textCol), shingleK)).as("sh0")))
    val exploded = sets.select(col("id"), explode(col("sh0")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // persist the df-ordered shingle sets: read by the prefix explode and
    // by both sides of the verify join-back; candidates carry only ids so
    // the wide arrays stay out of the candidate shuffle
    val sh = track(exploded.join(dfreq, "s")
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("sh")))
    val prefLen = (size(col("sh")) - ceil(size(col("sh")) * lit(threshold)).cast("int") + 1)
    val pref = sh.select(col("id"), size(col("sh")).as("n"),
      explode(slice(col("sh"), lit(1), prefLen)).as("p"))
    val a = pref.select(col("p").as("p_a"), col("id").as("id_a"), col("n").as("n_a"))
    val b = pref.select(col("p").as("p_b"), col("id").as("id_b"), col("n").as("n_b"))
    a.join(b, col("p_a") === col("p_b") && col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
  }

  /** All-pairs exact Jaccard — the brute-force ground truth used by specs
    * to validate [[ngramJaccardPairs]]'s blocking. O(n²); never register it
    * on a bench path. */
  def ngramJaccardPairsAllPairs(df: DataFrame, idCol: String, textCol: String,
                                shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = df
      .filter(size(TextFunctions.tokens(col(textCol))) > 0) // mirror the blocked path's guard
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingleHashes(col(textCol), shingleK)).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
  }

  // ------------------------------------------- cluster & representative

  /** Min-label propagation connected components over an undirected edge
    * list (id_a, id_b): every node ends with its component's min id.
    * Near-dup clusters are tiny, so this converges in a few iterations;
    * maxIter bounds the worst case. The per-iteration label vector
    * broadcasts into the edge join (a localCheckpoint'ed frame carries
    * no size stats, so without the hint the planner shuffle-joins BOTH
    * sides every iteration), gated on the measured node count below. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 30): DataFrame = {
    // Persist the symmetrized edges once: they are re-read twice per
    // iteration, and without this the whole upstream pipeline (e.g. the
    // MinHash candidate generation feeding the edge list) would re-execute
    // every iteration.
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    // localCheckpoint (eager) both materializes each round's labels in one
    // action and truncates lineage, so iteration cost stays flat instead of
    // growing with the plan; the node count rides the same job.
    var (labels, nNodes) = graft.spark.CheckpointOps.checkpointCounted(
      nodes.select(col("id"), col("id").as("label")))
    // the broadcast hint is additionally gated on the MEASURED node
    // count (ADVICE r14): a caller with a node set past the broadcast
    // comfort zone degrades to co-partitioned shuffle joins instead of
    // risking a driver OOM / the 8 GB broadcast cap. 20M ids ≈ 320 MB
    // built — well under the cap, well over every dedup fixture.
    val hint: DataFrame => DataFrame =
      if (nNodes <= 20000000L) broadcast(_) else identity
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = sym
        .join(hint(labels), sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val prev = labels
      // one-hop candidate: min(own label, neighbors' labels)
      val cand = prev
        .join(hint(neighborMin), prev("id") === neighborMin("dst"), "left_outer")
        .select(prev("id"),
          col("label").as("plabel"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("clabel"))
      // pointer doubling (label-of-label, from the same round snapshot):
      // plain min-label propagation moves a component's min id ONE hop
      // per round — O(diameter) rounds, and the image-dedup pair graph
      // at sf0.1 needs 17 (maxIter=10 silently truncated it: the
      // histogram was an UNCONVERGED component set at any sf the driver
      // doesn't oracle-check). Following the candidate label one more
      // hop through the round-start label vector roughly doubles the
      // covered distance per round — O(log diameter) rounds to the
      // SAME fixpoint (labels only ever decrease toward the component
      // min; stability implies the plain fixpoint condition).
      val look = labels.select(col("id").as("lid"), col("label").as("llabel"))
      // the changed-count rides the checkpoint materialization itself
      // (CheckpointOps observation — one job per round, not a second
      // action over the cached blocks; guide §1.2)
      val (next, m) = graft.spark.CheckpointOps.checkpointObserved(cand
        .join(hint(look), cand("clabel") === look("lid"), "left_outer")
        .select(col("id"),
          least(col("clabel"), coalesce(col("llabel"), col("clabel"))).as("label"),
          (least(col("clabel"), coalesce(col("llabel"), col("clabel")))
            < col("plabel")).as("changed")),
        Seq(coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L)).as("nc")))
      converged = m("nc").asInstanceOf[Long] == 0L
      // next is materialized — the superseded iterate's checkpoint blocks
      // are dead weight on a long-lived driver; release them per round
      prev.unpersist()
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    sym.unpersist()
    // an unconverged stop is a WRONG component set (exactly what the
    // sf0.1 truncation produced) — fail loudly, never return it
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — " +
        "the label set is not a component fixpoint; raise maxIter (log-" +
        "scale in diameter under pointer doubling) or use the star variant")
    labels
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the scale-correct alternative to [[connectedComponents]]: label
    * propagation needs O(diameter) rounds (a pathological near-dup chain
    * makes that unbounded), star contraction converges in O(log n) rounds
    * regardless of shape. Each round is two grouped aggregations over the
    * edge list; edges are checkpointed per round so lineage stays flat.
    * Returns (id, label) with label = component min id. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              maxIter: Int = 20): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val fromNeighbors = oriented.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val fromSelf = m.select(col("u"), col("m").as("v"))
      fromNeighbors.union(fromSelf)
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // the set signature rides each round's checkpoint job (CheckpointOps
    // observation — one job per round instead of checkpoint + sig agg)
    var (e, sig0) = checkpointSig(
      edges.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var iter = 0
    var converged = sig0._1 == 0L // empty edge set
    var prevSig: (Long, Long) = sig0
    while (iter < maxIter && !converged) {
      val prev = e
      val (e2, s) = checkpointSig(smallStar(largeStar(e)))
      e = e2
      prev.unpersist()
      converged = s == prevSig
      prevSig = s
      iter += 1
    }
    // an unconverged stop would label against a NON-star edge set — the
    // same silent-wrong-result class the r14 label-prop fix closed; the
    // O(log n) bound makes maxIter=20 ample for any real graph, so a
    // breach is a bug, not a tuning problem (fail loudly)
    require(converged,
      s"connectedComponentsStar did not converge within $maxIter rounds — " +
        "the edge set is not a star forest; raise maxIter (rounds are " +
        "O(log n)) or investigate the contraction")
    // converged edge set is a star forest: (child, root). Nodes absent as a
    // child (roots, isolates) label themselves.
    nodes.join(e.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** localCheckpoint + cheap set signature in ONE action: (count, xor
    * of pair hashes) — order-independent, overflow-free, collision-
    * improbable — observed during the checkpoint materialization. */
  private def checkpointSig(e: DataFrame): (DataFrame, (Long, Long)) = {
    val (ck, m) = graft.spark.CheckpointOps.checkpointObserved(e,
      Seq(count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("x")))
    (ck, (m("n").asInstanceOf[Long],
      Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L)))
  }

  /** End-to-end near-dedup: MinHash pairs → components → keep each
    * cluster's min-id row. `useStarCC` switches the component step to
    * [[connectedComponentsStar]] for corpora where boilerplate can chain
    * near-dups into high-diameter components. */
  def dedupNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 64, shingleK: Int = 3,
                          bands: Int = 16, threshold: Double = 0.7,
                          useStarCC: Boolean = false,
                          maxBucket: Int = DefaultMaxBucket): DataFrame =
    nearDupComponents(df, idCol, textCol, numHashes, shingleK, bands,
      threshold, useStarCC, maxBucket)
      .filter(col(idCol) === col("label"))
      .select(df.columns.toIndexedSeq.map(col): _*)

  /** [[dedupNearDuplicates]] with the component structure exposed: every
    * input row plus its near-dup component `label` (the component's min
    * id — rows with `label == id` are the kept representatives). This is
    * the auditable form: q_dedup_pipeline's self-asserting oracle checks
    * label canonicality, min-id keeper policy, and exact/high-Jaccard
    * groups collapsing, all of which need the labels, not just the
    * survivors. */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleK: Int = 3,
                        bands: Int = 16, threshold: Double = 0.7,
                        useStarCC: Boolean = false,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Track this call's signature cache locally (not in the module
    // registry): once labels are checkpointed nothing references it, so it
    // is released before returning — repeated pipeline calls on a
    // long-lived driver stay memory-flat.
    val localCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val tracker = (d: DataFrame) => { localCaches += d; d.persist() }
    // persist: the symmetrizing union inside connectedComponents reads the
    // edge list twice, which would otherwise run the MinHash pipeline twice
    val pairs = minHashPairsTracked(df, idCol, textCol, numHashes, shingleK,
      bands, threshold, maxBucket, tracker)
      .select(col("id_a"), col("id_b")).persist()
    val nodes = df.select(col(idCol).as("id"))
    // labels come back checkpointed, so the returned plan no longer
    // references the pairs pipeline — safe to unpersist right away
    val labels =
      if (useStarCC) connectedComponentsStar(nodes, pairs)
      else connectedComponents(nodes, pairs)
    pairs.unpersist()
    localCaches.foreach(_.unpersist())
    df.join(labels, df(idCol) === labels("id"))
      .select(df.columns.toIndexedSeq.map(col) :+ col("label"): _*)
  }

  // ------------------------------------------------- cross-corpus dedup

  /** Incremental-ingestion dedup: filter NEW documents that duplicate an
    * already-ingested REFERENCE corpus — the shape every recurring crawl
    * refresh runs (dedup the delta against the trained-on corpus, never
    * re-dedup the reference against itself).
    *
    * Two legs, both equi-joins:
    *  1. exact — normalized-md5 anti-join against the reference key set;
    *  2. near  — n-token shingle containment: a surviving new doc is
    *     dropped when, for some reference doc, |distinct shingles(new) ∩
    *     distinct shingles(ref)| ≥ `containment` · |distinct
    *     shingles(new)|. Shingles travel as 64-bit rolling hashes
    *     (ShingleExprs — ids+longs shuffle, never text). Reference
    *     shingles occurring in more than `maxDf` reference documents
    *     (corpus-wide boilerplate) are excluded from candidate generation
    *     — the document-frequency cap that keeps the per-hash join
    *     fan-out bounded at corpus scale; the containment denominator
    *     stays the full new-doc shingle count, so the cap only lowers
    *     recall deterministically, never changes a kept doc's score.
    *
    * Both legs are engine-replayable (md5 keys; shingle counts match a
    * string-shingle replay absent 64-bit collisions), so the whole
    * operator oracle-checks. Returns the surviving new-doc rows. */
  def dedupAgainstReference(newDocs: DataFrame, refDocs: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 8, containment: Double = 0.5,
                            maxDf: Long = 1000L): DataFrame = {
    require(containment > 0.0 && containment <= 1.0)
    val key = TextFunctions.fingerprintPortable(col(textCol))
    val refKeys = refDocs.select(key.as("__k")).distinct()
    // read twice (shingle explode + final anti-join) → persist per the
    // module's tracked-cache convention
    val exactSurvivors = track(newDocs.withColumn("__k", key)
      .join(refKeys, Seq("__k"), "left_anti")
      .drop("__k"))

    // near leg: zero-token docs have no token signal (see minHashPairs
    // guard) — they can still be EXACT dups above, but never near-dups
    val newSh = track(exactSurvivors
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("__nid"),
        explode(array_distinct(TextFunctions.shingleHashes(col(textCol), n)))
          .as("__h")))
    val refSh = refDocs
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("__rid"),
        explode(array_distinct(TextFunctions.shingleHashes(col(textCol), n)))
          .as("__h"))
    // df cap: drop corpus-wide boilerplate shingles from the ref side.
    // groupBy + join-back rather than a per-__h window count: the grouped
    // count partial-aggregates map-side and the join can AQE-skew-split,
    // where a window partition materializes every occurrence of the
    // hottest shingle in one task — the exact skew maxDf exists to handle.
    val refDfOk = refSh.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("__h"))
    val refShCapped = refSh.join(refDfOk, Seq("__h"))
    val newSize = newSh.groupBy(col("__nid"))
      .agg(count(lit(1)).as("__sz"))
    val drops = newSh.join(refShCapped, Seq("__h"))
      .groupBy(col("__nid"), col("__rid"))
      .agg(count(lit(1)).as("__shared"))
      .join(newSize, Seq("__nid"))
      .filter(col("__shared") >= lit(containment) * col("__sz"))
      .select(col("__nid")).distinct()
    val out = exactSurvivors.join(drops,
        exactSurvivors(idCol) === drops("__nid"), "left_anti")
      .select(exactSurvivors.columns.toIndexedSeq.map(col): _*)
    out
  }

  /** Serialized Bloom filter over a BIGINT key expression, built as ONE
    * distributed aggregation (`bloom_filter_agg`: per-partition filters,
    * merged partials — the corpus never leaves the executors; only
    * fixed-size bit arrays ride the final merge). `expectedItems` sizes
    * the filter (`optimalNumOfBits(n, fpp)`); at 10^8 keys and 1% fpp the
    * filter is ~120 MB of bits — still broadcast-able task state, and the
    * builder caps per `spark.sql.optimizer.runtime.bloomFilter.*` limits,
    * so very large reference sets should raise those or accept a higher
    * fpp. Probe the result with [[graft.functions.SketchExprs.bloomMightContain]]
    * (`putLong`/`mightContainLong` parity with the aggregate's insert). */
  def trainBloomFilter(keys: DataFrame, key: Column,
                       expectedItems: Long, fpp: Double): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    // optimalNumOfBits truncates to 0 for tiny n × loose fpp (e.g. n=3,
    // fpp=0.9), which bloom_filter_agg rejects — floor at one word
    val numBits = math.max(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp), 64L)
    val bf = keys.select(key.cast("long").as("__bk"))
      .stat.bloomFilter("__bk", expectedItems, numBits)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Exact cross-corpus dedup accelerated by a Bloom pre-filter: keep the
    * new-corpus documents whose normalized-text fingerprint does NOT occur
    * in the reference corpus — byte-identical output to the plain
    * fingerprint anti-join, reached without shuffling the full new corpus.
    *
    * The 100 TB shape this exists for: the reference key set is too big to
    * broadcast (so the anti-join is a shuffle join), while the true
    * duplicate rate is small. A Bloom filter over the reference
    * fingerprints is built once (one aggregation, a few-MB result) and
    * probed in the new corpus's scan: rows failing the probe are
    * DEFINITELY not duplicates (no false negatives) and are kept with no
    * join at all; only the passing sliver — true dups + an fpp-fraction of
    * false positives — reaches the anti-join exchange. The join's left
    * side shrinks from |new| to ≈ dups + fpp·|new| (≈100× at fpp=1%),
    * which is the difference between shuffling 100 TB and shuffling 1 TB.
    * Equivalence to the exact anti-join is structural: false positives are
    * eliminated by the exact join they fall through to; false negatives do
    * not exist.
    *
    * `expectedRefItems < 0` (default) counts the distinct reference keys
    * exactly (the key frame is persisted and reused by the anti-join); at
    * scale pass an estimate to skip that job. */
  def exactSurvivorsViaBloom(newDocs: DataFrame, refDocs: DataFrame,
                             textCol: String,
                             fpp: Double = 0.01,
                             expectedRefItems: Long = -1L): DataFrame = {
    val key = TextFunctions.fingerprintPortable(col(textCol))
    // read twice (filter build + anti-join) → persist per module convention
    val refKeys = track(refDocs.select(key.as("__k")).distinct())
    val n = if (expectedRefItems > 0) expectedRefItems
            else math.max(refKeys.count(), 1L)
    val filter = trainBloomFilter(refKeys, xxhash64(col("__k")), n, fpp)
    // read twice (definitely-clean leg + maybe-dup leg) → persist.
    // An UNBOUNDED newDocs cannot persist, and doesn't need to: the two
    // legs re-read only the current micro-batch, and everything else here
    // is streaming-legal (static-side Bloom build, stream-static LEFT
    // ANTI confirm, same-source self-union) — so the identical operator
    // is the lake's ingest front door: drop arriving docs that already
    // exist ON DISK, with only the fpp-sliver reaching the join, no
    // state store, no watermark. (For duplicates WITHIN the stream,
    // compose with [[graft.streaming.StreamOps.dedupByFingerprint]].)
    val keyed0 = newDocs.withColumn("__k", key)
    val keyed = if (newDocs.isStreaming) keyed0 else track(keyed0)
    val pass = graft.functions.SketchExprs.bloomMightContain(
      xxhash64(col("__k")), filter)
    val definitelyClean = keyed.filter(!pass)
    val survivorsOfMaybe = keyed.filter(pass)
      .join(refKeys, Seq("__k"), "left_anti")
    definitelyClean.unionByName(survivorsOfMaybe).drop("__k")
  }

  /** Cross-document duplication audit (the span-level view behind
    * suffix-array dedup, Lee et al. 2021 "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499): per document, the
    * fraction of its distinct n-token shingles that occur in at least one
    * OTHER document — "how much of this doc exists elsewhere in the
    * corpus". The quantity span-dedup thresholds on, produced without a
    * suffix array: one shingle explode, one document-frequency count over
    * 64-bit shingle hashes (ids+longs shuffle, never text), one per-doc
    * re-aggregation, and a left join back to the id spine so shingle-less
    * docs report 0. Output: (id, n_shingles, dup_shingle_frac). */
  def crossDocDuplicationStats(df: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame = {
    val spine = df.select(col(idCol).as("__id"))
    val sh = df.select(col(idCol).as("__id"),
      explode(array_distinct(TextFunctions.shingleHashes(col(textCol), n)))
        .as("__h"))
    // df per shingle via groupBy + join-back (map-side partial counts,
    // AQE-skew-splittable join) — NOT a per-__h window, which would
    // materialize every occurrence of a corpus-wide boilerplate shingle
    // in one task. A shingle is "shared" when some OTHER doc also has it,
    // i.e. df ≥ 2 (distinct-per-doc explode makes within-doc repeats
    // count once).
    val dfCounts = sh.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val withDf = sh.join(dfCounts, Seq("__h"))
    val perDoc = withDf.groupBy(col("__id")).agg(
      count(lit(1)).as("__n"),
      sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("__shared"))
    spine.join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shingles"),
        when(coalesce(col("__n"), lit(0L)) > 0,
          col("__shared").cast("double") / col("__n").cast("double"))
          .otherwise(0.0).as("dup_shingle_frac"))
  }

  /** Exact substring-span deduplication — the APPLY step behind
    * [[crossDocDuplicationStats]]'s audit (Lee et al. 2021, arXiv:2107.06499
    * "ExactSubstr": remove every duplicated span from the corpus, keeping
    * one occurrence). A span is an `n`-token gram; an occurrence is
    * duplicated when the same gram appears anywhere else in the corpus
    * (another document OR another position of the same document). The
    * globally-first occurrence — minimum (id, position) — is canonical and
    * kept; every other occurrence has its `n` token positions removed from
    * its document. Overlapping duplicate spans union their removed ranges,
    * so maximal duplicated runs collapse without an interval-merge pass; a
    * canonical occurrence can still be partially eroded by a DIFFERENT
    * overlapping duplicated gram (positional removal — the same property
    * as the paper's byte-range cuts). Real pipelines run n≈50; tests use
    * small n so the fixture has duplicates.
    *
    * Output: (id, n_tokens BIGINT, n_removed BIGINT, dedup_text) — text
    * rebuilt from the kept tokens, whitespace/case-normalized by the
    * tokenizer (the paper's pass also edits the raw training text). NULL
    * text stays NULL with zero counts. Gram identity is md5 of the gram
    * string, so two grams collide only if the 128-bit hash does.
    *
    * Scale: one gram explode feeding a (hash → count, first-occurrence)
    * aggregation with map-side partials, one join-back on the md5 key —
    * gram TEXT never rides a shuffle, only (id, pos, 16-byte hash) — one
    * per-doc collect of duplicate start positions (ids + ints), one join
    * to the documents by id. The per-row rebuild is O(tokens × duplicate
    * starts) inside a single projection; duplicate-start counts are
    * bounded by the document's own gram count, and documents are
    * length-capped upstream in any real curation chain. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    require(n >= 2, s"span gram size must be >= 2, got $n")
    // read twice (occurrence explode + final rebuild): persist per the
    // module cache contract
    val toks = track(df.select(col(idCol).as("__id"),
      col(textCol).isNull.as("__textnull"),
      coalesce(TextFunctions.tokens(col(textCol)),
        array().cast("array<string>")).as("__toks"),
      graft.functions.ShingleExprs.ngramStrings(coalesce(col(textCol), lit("")), n)
        .as("__grams")))
    val occ = toks
      .select(col("__id"), posexplode(col("__grams")).as(Seq("__pos", "__g")))
      .select(col("__id"), col("__pos"),
        md5(col("__g").cast("binary")).as("__h"))
    val stats = occ.groupBy(col("__h")).agg(
      count(lit(1)).as("__cnt"),
      min(struct(col("__id").as("i"), col("__pos").as("p"))).as("__first"))
    val dupStarts = occ.join(stats, Seq("__h"))
      .filter(col("__cnt") >= 2 &&
        !(col("__id") === col("__first.i") && col("__pos") === col("__first.p")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    toks.join(dupStarts, Seq("__id"), "left")
      .withColumn("__starts", coalesce(col("__starts"),
        array().cast("array<int>")))
      .withColumn("__kept", filter(
        transform(col("__toks"), (t, i) => struct(t.as("t"), i.as("i"))),
        s => !exists(col("__starts"),
          p => s.getField("i") >= p && s.getField("i") < p + lit(n))))
      .select(col("__id").as(idCol),
        when(col("__textnull"), lit(null).cast("long"))
          .otherwise(size(col("__toks")).cast("long")).as("n_tokens"),
        when(col("__textnull"), lit(null).cast("long"))
          .otherwise((size(col("__toks")) - size(col("__kept"))).cast("long"))
          .as("n_removed"),
        when(col("__textnull"), lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            transform(col("__kept"), s => s.getField("t")))).as("dedup_text"))
  }
}
