package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.queries.QueryUtil._
import graft.queries.ReplayFeed.tmp
import graft.streaming.{NearDupStream, StreamOps}

/** Driver-gate queries for the three streaming operators that were
  * previously spec-only (VERDICT r9 §"Next round" item 4): each runs
  * either the REAL streaming code over a deterministic file-replayed
  * stream (q_stream_dedup, q_stream_cdc) or the operator's documented
  * deterministic batch leg (q_stream_neardup), and lands on an output
  * whose value is micro-batch-boundary-INVARIANT so DuckDB can replay
  * it relationally:
  *
  *  - q_stream_dedup: StreamOps.dedupByFingerprint over an AvailableNow
  *    file stream. Whichever arrival survives per fingerprint, the
  *    (portable-fingerprint, count=1) projection is batch-split-proof.
  *  - q_stream_neardup: NearDupStream.nearDupFlagsBatch + invariant
  *    booleans (exact-dup coverage, recomputed distances, arrival
  *    order) — the simhash kernel itself is not SQL-replayable, so the
  *    gate is self-asserting like q_dedup_simhash.
  *  - q_stream_cdc: StreamOps.writeStreamMerge applied to a change
  *    feed whose files are KEY-DISJOINT (each key's changes share one
  *    file → one micro-batch), making the final snapshot independent
  *    of file/batch ordering; the oracle replays the collapsed merge
  *    relationally.
  */
object StreamGateQueries {

  /** MemoryStream id source for q_wallclock_panes — fresh per call. */
  private val wcStreamId = new java.util.concurrent.atomic.AtomicInteger(50000)

  type Q = (SparkSession, String) => DataFrame

  /** The fixture corpus has no EXACT duplicate texts, which would make
    * the dedup/near-dup gates vacuous — inject one whitespace-mutated
    * copy (doubled spaces: normalized-equal, raw-different) of every
    * 10th document under a fresh, LATER-arriving id. The oracle replays
    * the identical construction with replace(text, ' ', '  '). */
  private def withInjectedDups(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    base.unionByName(base
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text")))
  }

  /** The CDC-apply gate body shared by q_stream_cdc (uninterrupted) and
    * q_stream_cdc_restart (killed + resumed inside the at-least-once
    * crash window). Both land on the SAME oracle — the restart's whole
    * claim is that a mid-feed failure changes nothing. */
  private def cdcGate(s: SparkSession, dir: String, restart: Boolean): DataFrame = {
    import graft.operators.Upsert
    val root = tmp("cdc_root"); val feed = tmp("cdc_feed")
    val ckpt = tmp("cdc_ckpt")
    val orders = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(root)
    val updKeys = col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
      pmod(col("o_orderkey"), lit(7)) === 0
    val delKeys = col("o_orderpriority") === "3-MEDIUM" &&
      pmod(col("o_orderkey"), lit(5)) === 0
    val upd1 = orders.filter(updKeys)
      .withColumn("o_totalprice", col("o_totalprice") + 500)
      .withColumn("op", lit("U")).withColumn("ord", lit(1L))
    val upd2 = orders.filter(updKeys)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("op", lit("U")).withColumn("ord", lit(2L))
    val updel = orders.filter(delKeys)
      .withColumn("o_totalprice", col("o_totalprice") + 777)
      .withColumn("op", lit("U")).withColumn("ord", lit(1L))
    val dels = orders.filter(delKeys)
      .withColumn("op", lit("D")).withColumn("ord", lit(2L))
    val ins = orders
      .filter(col("o_orderpriority") === "2-HIGH" &&
        pmod(col("o_orderkey"), lit(11)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("2-HIGH").as("o_orderpriority"),
        lit(123.45).as("o_totalprice"))
      .withColumn("op", lit("U")).withColumn("ord", lit(1L))
    val changes = upd1.unionByName(upd2).unionByName(updel)
      .unionByName(dels).unionByName(ins)
    // hash-partition by key mod 3 → one file per bucket → all of a
    // key's changes share a file, hence a micro-batch
    changes.repartition(3, pmod(col("o_orderkey"), lit(3)))
      .write.mode("overwrite").parquet(feed)
    def startMerge() = {
      StreamOps.writeStreamMerge(
        ReplayRunner.stream(s, changes.schema, feed), root, Seq("o_orderkey"),
        "o_orderpriority", "ord", ckpt)
    }
    // no-data batch skipped: the CDC sink merges per batch; nothing
    // seals on the trailing watermark (oracle-proven final snapshot)
    ReplayFeed.withGatePartitions(s, keepNoDataBatches = false) {
      if (!restart) {
        val q = startMerge()
        q.processAllAvailable()
        q.stop()
      } else {
        import java.nio.file.{Files => F, Paths}
        import scala.jdk.CollectionConverters._
        def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
          val st = F.list(p)
          try st.iterator().asScala.toSeq finally st.close()
        }
        // phase 1: only the first feed file is visible — one batch,
        // one committed MERGE
        val all = listDir(Paths.get(feed))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
        require(all.size >= 2,
          s"cdc restart gate needs a multi-file feed, got ${all.size}")
        val stage = Paths.get(tmp("cdcr_stage"))
        val held = all.drop(1)
        held.foreach(f => F.move(f, stage.resolve(f.getFileName)))
        val q1 = startMerge()
        q1.processAllAvailable()
        q1.stop()
        // the crash window: the batch's MERGE landed in the table but —
        // in the failure being simulated — the engine died before
        // writing the epoch's commit record. Deleting the newest
        // commits/<n> entry puts the checkpoint in exactly that state;
        // the offset and source logs keep the batch's file assignment,
        // so the restarted query MUST re-run it (at-least-once).
        val commits = listDir(Paths.get(ckpt, "commits"))
          .filter(_.getFileName.toString.matches("\\d+"))
          .sortBy(_.getFileName.toString.toLong)
        require(commits.nonEmpty,
          "cdc restart gate: phase 1 committed no batch — there is no " +
            "merged-but-uncommitted window to replay")
        F.delete(commits.last)
        // the local-fs checksum sidecar (.N.crc) renames WITH the commit
        // file, so a real crash never leaves it orphaned — delete it too
        // or the resumed query's commit rename hits a stale destination
        F.deleteIfExists(commits.last
          .resolveSibling("." + commits.last.getFileName + ".crc"))
        held.foreach(f => F.move(stage.resolve(f.getFileName), f))
        // phase 2: a brand-new query object resumes from the same
        // checkpoint — replays the merged batch, then drains the rest
        val q2 = startMerge()
        q2.processAllAvailable()
        q2.stop()
      }
    }
    val untouched = Seq("o_orderpriority=4-NOT SPECIFIED",
      "o_orderpriority=5-LOW")
    val intact = untouched
      .map(d => Upsert.partitionFileSignature(s, root, d))
      .forall(_.nonEmpty)
    s.read.parquet(root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("untouched_present", lit(intact))
      .orderBy(col("o_orderpriority"))
  }

  val defs: Map[String, Q] = Map(

    // §2.9 row 8 under the driver gate: the REAL streaming exact-dedup
    // (watermark + dropDuplicatesWithinWatermark) over a multi-batch
    // file replay of the documents table. The per-fingerprint survivor
    // is arrival-order-dependent, but its NORMALIZED text is not —
    // projecting the portable md5 fingerprint (+ count pinned 1 by the
    // dedup guarantee) yields a batch-split-invariant result DuckDB
    // replays as SELECT DISTINCT md5(normalized).
    "q_stream_dedup" -> { (s, dir) =>
      val src = tmp("sd_src")
      val docs = withInjectedDups(Tables(s, dir).documents)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      docs.repartition(4).write.mode("overwrite").parquet(src)
      // dedup survivors emit in their own batch; the 30-day lateness
      // means no state ever seals (oracle-proven without the no-data batch)
      ReplayRunner.run(s)(StreamOps.dedupByFingerprint(
          ReplayRunner.stream(s, docs.schema, src), "text", "ts",
          lateness = "30 days"))
        .groupBy(TextFunctions.fingerprintPortable(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("fp"))
    },

    // §2.9 row 9 under the driver gate: the deterministic batch leg of
    // the streaming near-dup flags ((ts, id) arrival order, smallest-id
    // representative), with the streaming-spec invariants recomputed
    // relationally: every exact duplicate (identical normalized text,
    // not the first arrival) MUST flag at distance 0; every flag's
    // distance must re-derive from the two documents' signatures; every
    // flag must point strictly earlier. simhash is not SQL-replayable,
    // so the oracle pins the booleans and replays the two counts.
    "q_stream_neardup" -> { (s, dir) =>
      import graft.llm.Dedup
      val docs = withInjectedDups(Tables(s, dir).documents)
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      val flags = NearDupStream.nearDupFlagsBatch(docs, "doc_id", "ts",
        "text", maxDist = 3, horizon = java.time.Duration.ofDays(365))
        .localCheckpoint() // feeds three audit legs below
      val fp = docs.select(col("doc_id"),
        TextFunctions.fingerprintPortable(col("text")).as("k"))
      val nonfirst = fp.join(
          fp.groupBy(col("k")).agg(min(col("doc_id")).as("first")), Seq("k"))
        .filter(col("doc_id") =!= col("first"))
        .select(col("doc_id"))
      val sh = docs.select(col("doc_id"),
        Dedup.simHash(col("text")).as("__sh"))
      val audited = flags
        .join(sh.select(col("doc_id").as("id"), col("__sh").as("__shi")), Seq("id"))
        .join(sh.select(col("doc_id").as("dup_of"), col("__sh").as("__shd")),
          Seq("dup_of"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val nNonfirst = nonfirst.agg(count(lit(1)).as("n_exact_nonfirst"))
      // coverage = FLAGGED AT ALL: the exact-dup earlier member makes
      // every non-first doc eligible, but the smallest-id representative
      // may be a different (near) match, so the flag's dist can be > 0
      val covered = nonfirst
        .join(flags.select(col("id").as("doc_id")).distinct(), Seq("doc_id"))
        .agg(count(lit(1)).as("__covered"))
      val bad = audited.agg(
        coalesce(sum(when(Dedup.hamming(col("__shi"), col("__shd"))
          =!= col("dist"), 1L)), lit(0L)).as("__bad_dist"),
        coalesce(sum(when(col("dup_of") >= col("id"), 1L)), lit(0L))
          .as("__bad_order"))
      nDocs.crossJoin(nNonfirst).crossJoin(covered).crossJoin(bad)
        .select(col("n_docs"), col("n_exact_nonfirst"),
          (col("__covered") === col("n_exact_nonfirst")).as("exact_covered_ok"),
          (col("__bad_dist") === 0).as("dist_recompute_ok"),
          (col("__bad_order") === 0).as("earlier_ok"))
    },

    // §2.5 PubsubIO capability under the driver gate: the at-least-once
    // broker source (graft-redelivery: every batch replays the previous
    // batch's unacked tail) drained through id-dedup — the raw feed
    // delivers 230 rows for 200 records (3 redelivered tails of 10);
    // exactly-once output is the deterministic [0, n) sequence with
    // broker-assigned timestamps, which DuckDB replays from range().
    "q_stream_redelivery" -> { (s, _) =>
      val ckpt = tmp("rd_ckpt"); val outDir = tmp("rd_out")
      // 4 micro-batches (not 8): each costs ~1 s of fixed micro-batch
      // overhead at local[32]; 3 redelivered tails of 10 records keep
      // the at-least-once contract under real test
      val raw = s.readStream.format("graft-redelivery")
        .option("n", 200).option("rowsPerBatch", 50).option("overlap", 10)
        .load()
      // no-data batch skipped: deduped records emit in their arrival
      // batch; the output has no sealed-window rows (oracle-proven)
      ReplayFeed.withGatePartitions(s, keepNoDataBatches = false) {
        val q = StreamOps.dedupWithinWatermark(
            StreamOps.withEventTime(raw, "ts", "1 hour"), Seq("record_id"))
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
        .select(col("record_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("record_id"))
    },

    // §2.5 PubsubIO timestampLabel capability under the driver gate:
    // event time comes from a message ATTRIBUTE (attrs.evt_ms — the
    // broker clock minus a deterministic id%7 half-period skew), not
    // the broker timestamp. The attribute-derived watermark drives
    // dedup AND a 20-second windowed aggregation; redelivered tails
    // land below the watermark and are dropped/deduped either way, so
    // the sealed windows replay from range() arithmetic. Only windows
    // the final watermark (max evt − 5 s lateness) seals are emitted —
    // exactly win ≤ 8 for n=200 at 1 s period.
    "q_stream_ts_attr" -> { (s, _) =>
      val ckpt = tmp("ta_ckpt"); val outDir = tmp("ta_out")
      val raw = s.readStream.format("graft-redelivery")
        .option("n", 200).option("rowsPerBatch", 50).option("overlap", 10)
        .load()
      val evt = raw
        .withColumn("evt_ts", timestamp_millis(
          get_json_object(col("attrs"), "$.evt_ms").cast("long")))
        .withColumn("src", get_json_object(col("attrs"), "$.src"))
      val deduped = StreamOps.dedupWithinWatermark(
        StreamOps.withEventTime(evt, "evt_ts", "5 seconds"), Seq("record_id"))
      val agg = deduped
        .groupBy(window(col("evt_ts"), "20 seconds").as("window"), col("src"))
        .agg(count(lit(1)).as("n"), sum(col("record_id")).as("sum_id"))
      // the last sealed windows emit in the trailing no-data batch (the
      // broker source has no flush-row device) — keep it
      ReplayFeed.withGatePartitions(s, keepNoDataBatches = true) {
        val q = agg.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
        .select(unix_micros(col("window.start")).as("ws_us"),
          unix_micros(col("window.end")).as("we_us"),
          col("src"), col("n"), col("sum_id"))
        .orderBy(col("ws_us"), col("src"))
    },

    // §2.9 row 68 under the driver gate: the REAL streaming CDC-apply
    // sink (foreachBatch collapse + partition-scoped MERGE) fed by a
    // 3-file change feed. Changes for one key never split across files
    // (bucket = key mod 3 partitions the feed), so the per-batch
    // max-order collapse sees each key's full history and the final
    // snapshot is file-order-invariant: updated keys end at +1000 (the
    // ord=2 change; the ord=1 +500 must collapse away), update-then-
    // delete keys vanish, inserts land. The oracle replays that final
    // state relationally.
    "q_stream_cdc" -> { (s, dir) => cdcGate(s, dir, restart = false) },

    // VERDICT r13 task 1 — exactly-once for the CDC sink UNDER FAILURE,
    // at the driver gate (previously spec-only: MergeStreamSpec's
    // restart test). Identical feed, sink, and oracle as q_stream_cdc,
    // but the run is interrupted in foreachBatch's at-least-once crash
    // window: the first query drains only the feed's first file and
    // stops AFTER its MERGE committed to the table; the gate then
    // deletes that batch's checkpoint COMMIT record — the on-disk state
    // of a crash between the merge and the epoch commit — restores the
    // held-out files, and resumes a brand-new query from the same
    // checkpoint. The engine re-runs the merged batch (same batchId,
    // same file, from the offset/source logs) and the replayed MERGE
    // must collapse idempotently on top of its own earlier effects, or
    // updated keys double-apply and the snapshot visibly diverges from
    // the unchanged q_stream_cdc oracle.
    "q_stream_cdc_restart" -> { (s, dir) => cdcGate(s, dir, restart = true) },

    // VERDICT r13 task 8 — the closest a no-network sandbox gets to a
    // real broker: a NON-FILE DSv2 MicroBatchStream delivering records
    // at a fixed per-trigger rate, each batch replaying the previous
    // batch's unacked tail (at-least-once), with event times backdated
    // up to 80 s (id%5 × 20 s) against a 60 s batch span — records
    // genuinely arrive in a LATER batch than their event-time window
    // (cross-batch out-of-order, unlike the ordered file replays every
    // other streaming gate uses). The consumer side is the production
    // composition: attribute-derived event time → id-dedup within the
    // watermark → 30 s windowed aggregation in append mode. Every
    // moving part — watermark holds across the skew horizon, dedup
    // state outliving the redelivery lag, sealed-window emission — is
    // pure arithmetic over the broker's deterministic id sequence, so
    // DuckDB replays the whole thing from range(0, 240).
    "q_stream_broker" -> { (s, _) =>
      val ckpt = tmp("bk_ckpt"); val outDir = tmp("bk_out")
      val raw = s.readStream.format("graft-redelivery")
        .option("n", 240).option("rowsPerBatch", 60).option("overlap", 12)
        .option("skewMod", 5).option("skewStepMs", 20000)
        .load()
      val evt = raw
        .withColumn("evt_ts", timestamp_millis(
          get_json_object(col("attrs"), "$.evt_ms").cast("long")))
        .withColumn("src", get_json_object(col("attrs"), "$.src"))
      // lateness 100 s > the 80 s max backdating: nothing ever drops,
      // so the oracle is exact; the watermark still HOLDS window
      // finalization back across the skew horizon (sealed windows are
      // those the final watermark = max evt − 100 s passes)
      val deduped = StreamOps.dedupWithinWatermark(
        StreamOps.withEventTime(evt, "evt_ts", "100 seconds"), Seq("record_id"))
      val agg = deduped
        .groupBy(window(col("evt_ts"), "30 seconds").as("window"), col("src"))
        .agg(count(lit(1)).as("n"), sum(col("record_id")).as("sum_id"))
      // the last sealed windows emit in the trailing no-data batch (the
      // broker source has no flush-row device) — keep it
      ReplayFeed.withGatePartitions(s, keepNoDataBatches = true) {
        val q = agg.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(outDir)
        .select(unix_micros(col("window.start")).as("ws_us"),
          unix_micros(col("window.end")).as("we_us"),
          col("src"), col("n"), col("sum_id"))
        .orderBy(col("ws_us"), col("src"))
    },

    // The wall-clock pane engine (AfterProcessingTime's guaranteed-firing
    // form — the one engine path whose PANE BOUNDARIES no deterministic
    // oracle can replay) under a CONSERVATION gate: discarding panes
    // PARTITION the input, so per-key totals over all panes equal the
    // plain per-key aggregate whatever the clock does. The feed protocol
    // forces a real multi-pane split (add chunk 1 → poll until every
    // key's chunk-1 rows emitted → add chunk 2), so `multi_pane` proves
    // the engine actually fired ≥2 wall-clock panes per multi-row key
    // rather than trivially passing with one pane. A timer bug fails
    // loudly: either the poll deadline expires (missing rows) or
    // multi_pane reads false against the oracle's TRUE.
    "q_wallclock_panes" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.TriggerEngine
      val rows = Tables(s, dir).events
        .filter(pmod(col("event_id"), lit(101)) === 0)
        .select(col("event_type"), col("user_id").cast("long"))
        .as[(String, Long)].collect().toSeq // bounded: ~1% of events
      // split each key's rows half/half so every ≥2-row key spans chunks
      val byKey = rows.groupBy(_._1)
      val chunk1 = byKey.values.flatMap(v => v.take((v.size + 1) / 2)).toSeq
      val chunk2 = byKey.values.flatMap(v => v.drop((v.size + 1) / 2)).toSeq
      val c1Counts = chunk1.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val allCounts = byKey.view.mapValues(_.size.toLong).toMap
      // unique per INVOCATION (PlanSpec calls every registered query
      // more than once in one JVM) — the id only namespaces the source
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)](wcStreamId.incrementAndGet(), s, None)
      val panes = TriggerEngine.processingTimeAggregate(
        input.toDS(), java.time.Duration.ofMillis(200),
        graft.streaming.TriggerEngine.Discarding, TriggerGateQueries.NSumFn)
      val outDir = tmp("wc_out"); val ckpt = tmp("wc_ckpt")
      // wall-clock timers fire in whatever batch the clock reaches them —
      // including no-data batches; disabling them stalls the pane poll
      ReplayFeed.withGatePartitions(s, keepNoDataBatches = true) {
        val q = panes.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        // a pre-first-commit read throws (no parquet yet) — expected; but a
        // PERSISTENT read failure must not hide behind the generic deadline
        // message, so the last error rides along in the require (ADVICE r12)
        var lastReadError: Option[Throwable] = None
        def emitted(): Map[String, Long] =
          try {
            val m = s.read.parquet(outDir).groupBy(col("key"))
              .agg(sum(col("value._1")).as("n")).as[(String, Long)]
              .collect().toMap
            lastReadError = None
            m
          } catch { case e: Throwable => lastReadError = Some(e); Map.empty }
        def awaitCounts(want: Map[String, Long]): Unit = {
          // STALL-based deadline: as long as emitted counts keep rising,
          // a slow host gets more time — but a genuinely hung query
          // fails 120 s after progress stops instead of burning a
          // volume-proportional wait (a rows×100ms budget would hand a
          // timer bug hours at sf1)
          val stallMs = 120000L
          var lastTotal = -1L
          var lastChangeAt = System.currentTimeMillis()
          var done = false
          while (!done &&
                 System.currentTimeMillis() - lastChangeAt < stallMs) {
            val m = emitted()
            done = want.forall { case (k, n) => m.getOrElse(k, 0L) >= n }
            val total = m.values.sum
            if (total != lastTotal) {
              lastTotal = total; lastChangeAt = System.currentTimeMillis()
            }
            if (!done) Thread.sleep(200)
          }
          require(done,
            "wall-clock panes did not emit the fed rows (no progress for " +
              s"${stallMs / 1000} s; query active=${q.isActive}, " +
              s"exception=${q.exception})" +
              lastReadError.map(e => s"; last output read error: $e").getOrElse(""))
        }
        input.addData(chunk1)
        awaitCounts(c1Counts)
        input.addData(chunk2)
        awaitCounts(allCounts)
        q.stop()
      }
      s.read.parquet(outDir)
        .groupBy(col("key").as("event_type"))
        .agg(sum(col("value._1")).as("n"), sum(col("value._2")).as("sum_v"),
          max(col("paneIndex")).as("__max_idx"))
        // a ≥2-row key MUST have split across ≥2 panes (the chunk poll
        // guarantees it); keying the excuse off input rows — never pane
        // count — keeps a wrongly-merged single pane visibly red
        .select(col("event_type"), col("n"), col("sum_v"),
          (col("__max_idx") >= 1 || col("n") < 2).as("multi_pane"))
        .orderBy(col("event_type"))
    },
  )

  private val baseOracles: Map[String, String] = Map(

    // conservation law of discarding wall-clock panes: per-key totals
    // equal the plain aggregate; multi_pane pinned TRUE by the gate's
    // chunked-feed protocol (≥2 panes for every ≥2-row key).
    "q_wallclock_panes" ->
      """SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_v,
           TRUE AS multi_pane
         FROM events WHERE event_id % 101 = 0
         GROUP BY event_type ORDER BY event_type""",

    "q_stream_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, replace(text, ' ', '  ')
           FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp,
                CAST(1 AS BIGINT) AS n
         FROM corpus GROUP BY 1 ORDER BY fp""",

    // simhash is engine-local; the oracle replays the two counts and
    // pins the recomputed invariants (self-asserting gate, the
    // q_dedup_simhash pattern).
    "q_stream_neardup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, replace(text, ' ', '  ')
           FROM documents WHERE doc_id % 10 = 0),
         fp AS (SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS k
           FROM corpus),
         m AS (SELECT k, min(doc_id) AS first FROM fp GROUP BY k)
         SELECT (SELECT count(*) FROM corpus) AS n_docs,
           (SELECT count(*) FROM fp JOIN m ON fp.k = m.k
              WHERE fp.doc_id <> m.first) AS n_exact_nonfirst,
           TRUE AS exact_covered_ok, TRUE AS dist_recompute_ok,
           TRUE AS earlier_ok""",

    "q_stream_redelivery" ->
      """SELECT r AS record_id,
                (1700000000000 + r * 1000) * 1000 AS ts_us
         FROM range(0, 200) t(r) ORDER BY record_id""",

    // the broker gate replayed from pure arithmetic: evt lags the
    // broker clock by (id%5)·20 s; dedup collapses the redelivered
    // tails to one row per id; sealed windows are those whose end the
    // final watermark (max evt − 100 s) passed.
    "q_stream_broker" ->
      """WITH e AS (
           SELECT r AS id, 1700000000000 + r * 1000 - (r % 5) * 20000 AS evt_ms,
                  's' || CAST(r % 2 AS VARCHAR) AS src
           FROM range(0, 240) t(r)),
         w AS (SELECT evt_ms // 30000 AS win, src, id FROM e)
         SELECT CAST(win * 30000 * 1000 AS BIGINT) AS ws_us,
                CAST((win + 1) * 30000 * 1000 AS BIGINT) AS we_us,
                src, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(id) AS BIGINT) AS sum_id
         FROM w
         WHERE (win + 1) * 30000 <= (SELECT max(evt_ms) FROM e) - 100000
         GROUP BY 1, 2, 3 ORDER BY ws_us, src""",

    "q_stream_ts_attr" ->
      """WITH e AS (
           SELECT r AS id, 1700000000000 + r * 1000 - (r % 7) * 500 AS evt_ms,
                  's' || CAST(r % 2 AS VARCHAR) AS src
           FROM range(0, 200) t(r)),
         w AS (SELECT evt_ms // 20000 AS win, src, id FROM e)
         SELECT CAST(win * 20000 * 1000 AS BIGINT) AS ws_us,
                CAST((win + 1) * 20000 * 1000 AS BIGINT) AS we_us,
                src, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(id) AS BIGINT) AS sum_id
         FROM w WHERE win <= 1700000000000 // 20000 + 8
         GROUP BY 1, 2, 3 ORDER BY ws_us, src""",

    // the collapsed CDC feed replayed relationally: updated keys take
    // the ord=2 value (+1000 — a +500 survivor would prove the collapse
    // broke), update-then-delete keys vanish, inserts land, untouched
    // rows pass through.
    "q_stream_cdc" ->
      """WITH upd AS (SELECT o_orderkey FROM orders
             WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey % 7 = 0),
         dels AS (SELECT o_orderkey FROM orders
             WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 5 = 0),
         ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
               '2-HIGH' AS o_orderpriority, 123.45 AS o_totalprice
             FROM orders WHERE o_orderpriority = '2-HIGH' AND o_orderkey % 11 = 0),
         kept AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
               AND o_orderkey NOT IN (SELECT o_orderkey FROM dels)),
         updnew AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 1000 AS o_totalprice
             FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM upd)),
         merged AS (SELECT * FROM kept UNION ALL SELECT * FROM updnew
                    UNION ALL SELECT * FROM ins)
         SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           TRUE AS untouched_present
         FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""",
  )

  /** The restart gate's claim IS oracle invariance — q_stream_cdc's
    * oracle is reused verbatim. */
  val oracles: Map[String, String] =
    baseOracles + ("q_stream_cdc_restart" -> baseOracles("q_stream_cdc"))
}
