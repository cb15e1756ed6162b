package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.BronzeGenerator
import graft.silver.SilverTransform
import graft.streaming.SilverStream

/** Structured Streaming semantics (SURVEY §2.10/§5.2): batch/stream
  * equivalence for the Silver transform, watermark late-data drop. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  test("file-source silver stream ≡ batch silver") {
    val dir = tempDir("graft_stream_").toString
    BronzeGenerator.shipments(spark, 500, 42L, "2024-01-01")
      .write.mode("overwrite").json(dir)
    val batch = SilverTransform.transform(
      spark.read.schema(graft.model.Schemas.bronzeShipment).json(dir), "2024-01-01", ts)
    val tablesBefore = spark.catalog.listTables().count()
    val streamed = SilverStream.runToMemory(
      SilverStream.silverStream(spark, dir, "2024-01-01", ts),
      s"silver_eq_${System.nanoTime()}", "append")
    assert(streamed.count() === batch.count())
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.exceptAll(batch).count() === 0)
    // the memory-sink temp view is dropped after materialization — a
    // bench/verify pass must not grow the catalog by one table per
    // streaming query for the life of the session
    assert(spark.catalog.listTables().count() === tablesBefore,
      "runToMemory leaked its memory-sink temp view")
  }

  test("watermark drops late events in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val name = s"wm_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: events at 10:00-10:09 and a watermark-advancing event at 11:00
    input.addData((t("2024-01-01 10:01:00"), "a"), (t("2024-01-01 10:05:00"), "a"),
      (t("2024-01-01 11:00:00"), "b"))
    q.processAllAvailable()
    // batch 2: a LATE event for the already-finalized 10:00 window
    input.addData((t("2024-01-01 10:02:00"), "a"))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to flush everything else
    input.addData((t("2024-01-01 12:00:00"), "c"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select(col("window.start").cast("string"), col("k"), col("n"))
      .as[(String, String, Long)].collect().toSet
    // the 10:00 window closed with n=2 — the late event did NOT bump it to 3
    assert(rows.contains(("2024-01-01 10:00:00", "a", 2L)))
    assert(!rows.contains(("2024-01-01 10:00:00", "a", 3L)))
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.EventIn
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[EventIn]
    val totals = StatefulOps.runningUserTotals(input.toDS())
    val name = s"state_${System.nanoTime()}"
    val q = totals.toDF().writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(EventIn(1L, 1L, 10.0, t("2024-01-01 10:00:00")),
      EventIn(1L, 2L, 5.0, t("2024-01-01 10:00:10")),
      EventIn(2L, 3L, 1.0, t("2024-01-01 10:00:20")))
    q.processAllAvailable()
    input.addData(EventIn(1L, 4L, 2.5, t("2024-01-01 10:05:00"))) // within TTL → carries over
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("user_id", "n_events", "total_value", "max_event_id")
      .as[(Long, Long, Double, Long)].collect()
    // last emission for user 1 reflects ALL 3 events across both batches
    val lastUser1 = rows.filter(_._1 == 1L).maxBy(_._2)
    assert(lastUser1 === ((1L, 3L, 17.5, 4L)))
    assert(rows.filter(_._1 == 2L).head === ((2L, 1L, 1.0, 3L)))
  }

  test("mapGroupsWithState evicts idle state once the watermark passes the TTL") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.EventIn
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[EventIn]
    // 0s lateness bound, 30min TTL: user 1's state must die once the
    // watermark passes 10:00 + 30min
    val totals = StatefulOps.runningUserTotals(input.toDS(),
      watermarkDelay = "0 seconds", ttl = java.time.Duration.ofMinutes(30))
    val name = s"ttl_${System.nanoTime()}"
    val q = totals.toDF().writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(EventIn(1L, 1L, 10.0, t("2024-01-01 10:00:00")),
      EventIn(1L, 2L, 5.0, t("2024-01-01 10:00:30")))
    q.processAllAvailable()
    // advance the watermark past 10:30 (needs two batches: the watermark a
    // batch runs with is computed from the PREVIOUS batch's max event time)
    input.addData(EventIn(9L, 3L, 1.0, t("2024-01-01 12:00:00")))
    q.processAllAvailable()
    input.addData(EventIn(9L, 4L, 1.0, t("2024-01-01 12:00:01")))
    q.processAllAvailable()
    // user 1 returns AFTER eviction: totals restart from zero instead of
    // resuming at n_events=2 — proof the state store dropped the group
    input.addData(EventIn(1L, 5L, 2.0, t("2024-01-01 12:00:02")))
    q.processAllAvailable()
    q.stop()
    val user1 = spark.table(name).filter($"user_id" === 1L)
      .select("n_events", "total_value", "max_event_id")
      .as[(Long, Double, Long)].collect()
    assert(user1.contains((2L, 15.0, 2L)), s"pre-eviction totals missing: ${user1.mkString(",")}")
    assert(user1.contains((1L, 2.0, 5L)),
      s"state must restart after TTL eviction, got: ${user1.mkString(",")}")
    assert(!user1.contains((3L, 17.0, 5L)), "state carried over past the TTL — not evicted")
  }

  test("flatMapGroupsWithState sessionization: closed sessions match the batch operator") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[SessionEvent]
    val sessions = StatefulOps.sessionizeStream(input.toDS(),
      gap = java.time.Duration.ofMinutes(5), watermarkDelay = "0 seconds")
    val name = s"sess_${System.nanoTime()}"
    val q = sessions.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val evts = Seq(
      SessionEvent(1L, t("2024-01-01 10:00:00"), 1.0),
      SessionEvent(1L, t("2024-01-01 10:01:00"), 2.0),
      SessionEvent(1L, t("2024-01-01 10:30:00"), 4.0), // >5min gap → new session
      SessionEvent(2L, t("2024-01-01 10:00:30"), 8.0))
    // user 2's event rides in batch 1: with a 0s lateness bound it would
    // be (correctly) dropped as late once the watermark reaches 10:01
    input.addData(Seq(evts(0), evts(1), evts(3)))
    q.processAllAvailable()
    // the 10:30 event opens a second fragment; closure is watermark-driven
    input.addData(Seq(evts(2)))
    q.processAllAvailable()
    // advance the watermark far past every session_end + gap (two batches:
    // the watermark a batch runs with comes from the previous batch's max)
    input.addData(SessionEvent(9L, t("2024-01-01 12:00:00"), 0.0))
    q.processAllAvailable()
    input.addData(SessionEvent(9L, t("2024-01-01 12:00:01"), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter($"user_id".isin(1L, 2L))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect().toSet
    // batch truth from the SAME events via the oracle-checked operator
    val batch = graft.operators.Sessionize.sessionStats(
        evts.toDF("user_id", "ts", "value"), "user_id", "ts", "ts", gapSeconds = 300L)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed.map(s => (s._1, s._2, s._3, s._4)) === batch,
      s"stream sessions $streamed != batch $batch")
    // value sums carried through the state machine
    assert(streamed.map(s => (s._1, s._2.toString, s._5)) ===
      Set((1L, "2024-01-01 10:00:00.0", 3.0), (1L, "2024-01-01 10:30:00.0", 4.0),
        (2L, "2024-01-01 10:00:30.0", 8.0)))
  }

  test("sessionization handles out-of-order events within the watermark like batch") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[SessionEvent]
    // 1h lateness bound: late-but-within-watermark events MUST land in the
    // right session, even when they extend a session backward, open an
    // earlier one, or bridge two open fragments into one
    val sessions = StatefulOps.sessionizeStream(input.toDS(),
      gap = java.time.Duration.ofMinutes(5), watermarkDelay = "1 hour")
    val name = s"sess_ooo_${System.nanoTime()}"
    val q = sessions.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val batch1 = Seq(
      SessionEvent(1L, t("2024-01-01 10:20:00"), 1.0),
      SessionEvent(1L, t("2024-01-01 10:21:00"), 2.0),
      SessionEvent(1L, t("2024-01-01 10:10:00"), 4.0)) // separate earlier fragment
    val batch2 = Seq(
      SessionEvent(1L, t("2024-01-01 10:18:00"), 8.0),  // extends [10:20] back AND...
      SessionEvent(1L, t("2024-01-01 10:14:00"), 16.0), // ...bridges it with [10:10]
      SessionEvent(1L, t("2024-01-01 10:00:00"), 32.0), // new earlier session
      SessionEvent(1L, t("2024-01-01 10:04:00"), 64.0)) // extends it forward
    input.addData(batch1)
    q.processAllAvailable()
    input.addData(batch2) // all ≥ 09:21 = watermark (10:21 − 1h) → accepted
    q.processAllAvailable()
    // advance the watermark past every session_end + gap (two batches)
    input.addData(SessionEvent(9L, t("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()
    input.addData(SessionEvent(9L, t("2024-01-01 13:00:01"), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).filter($"user_id" === 1L)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect().toSet
    // batch truth over the SAME events via the oracle-checked operator:
    // sessions [10:00,10:04] and [10:10,10:21] (10:04→10:10 exceeds the gap)
    val all = (batch1 ++ batch2).toDF("user_id", "ts", "value")
    val batch = graft.operators.Sessionize.sessionStats(
        all, "user_id", "ts", "ts", gapSeconds = 300L)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed.map(s => (s._1, s._2, s._3, s._4)) === batch,
      s"stream sessions $streamed != batch $batch")
    assert(streamed.map(s => (s._2.toString, s._5)) ===
      Set(("2024-01-01 10:00:00.0", 96.0), ("2024-01-01 10:10:00.0", 31.0)))
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = SilverStream.dedupWithinWatermark(
      input.toDF().toDF("k", "ts"), Seq("k"), "ts", "10 minutes")
    val name = s"dd_${System.nanoTime()}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-01 10:00:30")))
    q.processAllAvailable()
    input.addData((1L, t("2024-01-01 10:01:00"))) // still within watermark → dropped
    q.processAllAvailable()
    q.stop()
    assert(spark.table(name).count() === 1, "only the first arrival survives")
  }

  test("foreachBatch sink appends micro-batches as parquet") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_fb_").toString + "/out"
    val input = MemoryStream[(Long, Double)]
    val q = SilverStream.appendSink(input.toDF().toDF("k", "v"), dir)
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", tempDir("graft_fb_ck_").toString)
      .start()
    input.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
    input.addData((3L, 3.0)); q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(back.select("_epoch").distinct().count() === 2, "two micro-batches landed")
  }

  test("streaming near-dup audit probes the persisted index per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val corpus = Seq(
      (0L, base, "s1"),
      (1L, "one two three four five six seven eight nine ten", "s1"))
      .toDF("doc_id", "text", "source")
    val idxDir = tempDir("graft_sidx_").toString
    Dedup.buildNearDupIndex(corpus, idxDir)
    val outDir = tempDir("graft_sidx_out_").toString + "/hits"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingDedup
      .nearDupAuditSink(input.toDF().toDF("doc_id", "text", "source"), idxDir, outDir,
        threshold = 0.5)
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", tempDir("graft_sidx_ck_").toString)
      .start()
    // epoch of arrivals: 10 is a near-dup of indexed 0 (the known-lucky
    // delta edit); 11 is unrelated
    input.addData((10L, base.replace("delta", "DELTA-EDIT"), "s9"),
      (11L, "utterly disjoint vocabulary appears in this very document body", "s9"))
    q.processAllAvailable()
    // second epoch: an exact dup of indexed 0 arrives
    input.addData((12L, base, "s9"))
    q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(outDir)
      .select("doc_a", "doc_b", "_epoch").as[(Long, Long, Long)].collect().toSet
    assert(hits.map(h => (h._1, h._2)) === Set((0L, 10L), (0L, 12L)),
      s"each epoch's batch pairs only with INDEXED docs: $hits")
    assert(hits.map(_._3).size === 2, "hits landed across two distinct epochs")
  }

  test("self-maintaining dedup sink catches a dup of an EARLIER EPOCH's document") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val corpus = Seq((0L, base, "s1")).toDF("doc_id", "text", "source")
    val idxDir = tempDir("graft_smd_").toString
    Dedup.buildNearDupIndex(corpus, idxDir)
    val outDir = tempDir("graft_smd_out_").toString + "/hits"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingDedup
      .selfMaintainingDedupSink(input.toDF().toDF("doc_id", "text", "source"),
        idxDir, outDir, tempDir("graft_smd_ck_").toString,
        threshold = 0.5)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // epoch 1: doc 10 is fresh text the base corpus never saw
    val fresh = "completely novel sentences arrive in the first epoch drop " * 5
    input.addData((10L, fresh, "s9")); q.processAllAvailable()
    // epoch 2: doc 20 exactly dups epoch-1's doc 10 — only the per-epoch
    // registration can catch it; doc 21 dups the BASE corpus's doc 0
    input.addData((20L, fresh, "s9"), (21L, base, "s9")); q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(outDir)
      .select("doc_a", "doc_b", "_epoch").as[(Long, Long, Long)].collect().toSet
    assert(hits.map(h => (h._1, h._2)) === Set((10L, 20L), (0L, 21L)),
      s"epoch 2 must pair against BOTH the base index and epoch 1's registration: $hits")
    assert(hits.map(_._3) === Set(1L),
      "both hits land in the second epoch (batch ids are 0-based); epoch 0's " +
        "fresh doc emits nothing — its own registration is probe-excluded")
  }

  test("self-maintaining sink compacts its index mid-stream; verdicts unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val idxDir = tempDir("graft_cmp_").toString
    Dedup.buildNearDupIndex(Seq((0L, base, "s1")).toDF("doc_id", "text", "source"), idxDir)
    val outDir = tempDir("graft_cmp_out_").toString + "/hits"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingDedup
      .selfMaintainingDedupSink(input.toDF().toDF("doc_id", "text", "source"),
        idxDir, outDir, tempDir("graft_cmp_ck_").toString,
        threshold = 0.5, compactEvery = 2)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val fresh = "completely novel sentences arrive in the first epoch drop " * 5
    val other = "unrelated vocabulary fills the second micro batch entirely here " * 5
    // epochs 0/1 register two labels; epoch 2 starts at the compactEvery=2
    // threshold, so the sink folds 0/1 into __base__ BEFORE probing — and
    // must still catch 20 duping epoch-0's doc 10 (now only in the fold)
    // and 21 duping the original base corpus
    input.addData((10L, fresh, "s9")); q.processAllAvailable()
    input.addData((11L, other, "s9")); q.processAllAvailable()
    input.addData((20L, fresh, "s9"), (21L, base, "s9")); q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hits === Set((10L, 20L), (0L, 21L)),
      s"hits across the mid-stream compaction must match the uncompacted run: $hits")
    assert(Dedup.registeredBatchCount(spark, idxDir) === 1,
      "epochs 0/1 folded into __base__; only epoch 2's own label survives")
  }

  test("self-maintaining sink re-compacts after a compaction crashed before its marker") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val fresh = "completely novel sentences arrive in the first epoch drop " * 5
    val idxDir = tempDir("graft_crc_").toString
    Dedup.buildNearDupIndex(
      Seq((0L, base, "s1")).toDF("doc_id", "text", "source"), idxDir)
    Dedup.registerInNearDupIndex(
      Seq((10L, fresh, "d1")).toDF("doc_id", "text", "source"), idxDir, "day1")
    Dedup.registerInNearDupIndex(
      Seq((11L, "unrelated words fill this registered drop " * 5, "d2"))
        .toDF("doc_id", "text", "source"), idxDir, "day2")
    // crash remnant: a compaction wrote its fold but never its marker —
    // the two labels are still listed, so the count-based trigger fires
    assert(Dedup.compactNearDupIndex(spark, idxDir) === 2)
    val v = graft.io.VersionedTable.currentVersion(spark, idxDir).get
    assert(new java.io.File(s"$idxDir/_log", f"$v%09d").delete())
    assert(Dedup.registeredBatchCount(spark, idxDir) === 2)
    val outDir = tempDir("graft_crc_out_").toString + "/hits"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingDedup
      .selfMaintainingDedupSink(input.toDF().toDF("doc_id", "text", "source"),
        idxDir, outDir, tempDir("graft_crc_ck_").toString,
        threshold = 0.5, compactEvery = 2)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData((30L, base, "s9"), (31L, fresh, "s9")); q.processAllAvailable(); q.stop()
    assert(Dedup.registeredBatchCount(spark, idxDir) === 1,
      "the epoch compacted day1/day2 and registered only itself")
    val hits = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hits === Set((0L, 30L), (10L, 31L)),
      s"the compacted epoch still probes the full corpus: $hits")
  }

  test("streaming manifest ≡ batch t25 manifest across two epochs") {
    implicit val sqlCtx = spark.sqlContext
    def doc(i: Int) =
      s"the quick brown fox number $i jumps over the lazy dog and then " +
        s"it runs away to find some more interesting text body $i"
    // epoch 1: 2 and 3 are an in-batch exact-dup pair; epoch 2: 11 dups
    // epoch-1's doc 1 (cross-epoch — only the persisted hash index can
    // catch it), 12/13 are a fresh in-batch pair, 10 is unique
    val e1 = Seq((1L, doc(1), "en"), (2L, doc(2), "en"), (3L, doc(2), "en"),
      (4L, doc(4), "en"))
    val e2 = Seq((10L, doc(10), "en"), (11L, doc(1), "en"),
      (12L, doc(12), "en"), (13L, doc(12), "en"))
    val hashIdx = tempDir("graft_mh_").toString + "/hashes"
    val outDir = tempDir("graft_mo_").toString + "/manifest"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingManifest
      .manifestSink(input.toDF().toDF("doc_id", "text", "lang"), hashIdx, outDir,
        tempDir("graft_mck_").toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(e1: _*); q.processAllAvailable()
    input.addData(e2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(outDir)
    assert(streamed.select("_epoch").distinct().count() === 2)
    val batch = graft.queries.Text.batchManifest(
      (e1 ++ e2).toDF("doc_id", "text", "lang"))
    // row-identical to the batch manifest on the union (epochs arrive in
    // doc_id order, so first-seen == min-doc_id)
    assert(streamed.count() === batch.count())
    assert(batch.exceptAll(streamed.drop("_epoch")).count() === 0)
    assert(streamed.drop("_epoch").exceptAll(batch).count() === 0)
    val kept = streamed.filter(col("dedup_keep"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 4L, 10L, 12L),
      s"cross-epoch dup 11 and in-batch dups 3/13 must not keep: $kept")
  }

  test("manifest sink compacts its hash index mid-stream; decisions unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingManifest
    def doc(i: Int) =
      s"manifest compaction fixture document $i carries enough body text " +
        s"to score and split deterministically $i"
    val hashIdx = tempDir("graft_mc_").toString + "/hashes"
    val outDir = tempDir("graft_mc_out_").toString + "/manifest"
    val input = MemoryStream[(Long, String, String)]
    // threshold 1: every epoch after the first compacts before appending —
    // the maximally adversarial cadence for decision stability
    val q = StreamingManifest
      .manifestSink(input.toDF().toDF("doc_id", "text", "lang"), hashIdx, outDir,
        tempDir("graft_mc_ck_").toString, compactEveryFiles = 1)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val epochs = Seq(
      Seq((1L, doc(1), "en"), (2L, doc(2), "en")),
      Seq((10L, doc(10), "en"), (11L, doc(1), "en")), // 11 dups epoch-0's 1
      Seq((20L, doc(2), "en"), (21L, doc(21), "en")), // 20 dups epoch-0's 2
      Seq((30L, doc(10), "en"), (31L, doc(31), "en"))) // 30 dups epoch-1's 10
    epochs.foreach { e => input.addData(e: _*); q.processAllAvailable() }
    q.stop()
    val kept = spark.read.parquet(outDir).filter(col("dedup_keep"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 10L, 21L, 31L),
      s"every cross-epoch dup must be caught across three compactions: $kept")
    // the index stayed bounded: one folded generation plus the LAST
    // epoch's appends (each epoch here writes ≤2 files), not the
    // ever-growing per-epoch accumulation a compaction-free run leaves
    val files = new java.io.File(hashIdx).listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files <= 4, s"index files not bounded by compaction: $files")
  }

  test("manifest dedup survives a fresh-checkpoint restart (epoch ids reset to 0)") {
    import graft.streaming.StreamingManifest
    def doc(i: Int) =
      s"fresh checkpoint restart fixture document $i with enough body text " +
        s"to score and split deterministically $i"
    val hashIdx = tempDir("graft_rck_").toString + "/hashes"
    val outDir = tempDir("graft_rcm_").toString + "/manifest"
    // run A registers doc 1 at ITS epoch 0
    val e0 = Seq((1L, doc(1), "en"), (2L, doc(2), "en")).toDF("doc_id", "text", "lang")
    StreamingManifest.appendEpoch(e0, hashIdx, outDir, epochId = 0L, run = "run-A")
    // run B (fresh checkpoint → epoch counter restarts at 0) sees a dup of
    // doc 1; under the old `_epoch < 0` filter this was silently kept
    val f0 = Seq((10L, doc(1), "en"), (11L, doc(11), "en")).toDF("doc_id", "text", "lang")
    StreamingManifest.appendEpoch(f0, hashIdx, outDir, epochId = 0L, run = "run-B")
    val kept = spark.read.parquet(outDir).filter(col("dedup_keep"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 11L),
      s"doc 10 dups run-A's doc 1 across the checkpoint boundary: $kept")
    // replay stability: run B's epoch 0 crashed after registering its
    // hashes; the retry must exclude exactly those rows and re-decide
    // identically (doc 11's hash is already in the index under run-B/0)
    StreamingManifest.appendEpoch(f0, hashIdx, outDir, epochId = 0L, run = "run-B")
    val replayKeeps = spark.read.parquet(outDir).filter(col("dedup_keep"))
      .filter(col("doc_id") === 11L).count()
    assert(replayKeeps === 2L, "retried epoch re-decides keep identically")
    // run keys are checkpoint-scoped: same dir → same key; fresh dir → fresh key
    val ck = tempDir("graft_rkk_").toString
    val k1 = StreamingManifest.runKey(spark, ck)
    assert(StreamingManifest.runKey(spark, ck) === k1)
    assert(StreamingManifest.runKey(spark,
      tempDir("graft_rkk2_").toString) !== k1)
  }

  test("stream-stream join with watermarks joins within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("buser", "bts", "amount").withWatermark("bts", "1 hour")
    // purchase attributed to a click within the preceding hour
    val joined = c.join(b,
      expr("user = buser AND bts >= cts AND bts <= cts + interval 1 hour"))
    val name = s"ss_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    clicks.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:00:00")))
    buys.addData((1L, t("2024-01-01 10:30:00"), 9.99))   // within the hour → joins
    buys.addData((2L, t("2024-01-01 12:30:00"), 5.00))   // 2.5h later → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user", "amount")
      .as[(Long, Double)].collect().toSet
    assert(rows === Set((1L, 9.99)))
  }

  test("stream-stream join DROPS a matching pair older than the advanced watermark") {
    // the p18 scale contract: watermarks + the range condition bound the
    // join state, and the price is that data arriving behind the global
    // watermark is dropped even when its match exists — the drop must
    // actually happen (unbounded grace would mean unbounded state)
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("buser", "bts", "amount").withWatermark("bts", "1 hour")
    val joined = c.join(b,
      expr("user = buser AND bts >= cts AND bts <= cts + interval 1 hour"))
    val name = s"ssl_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: no matches, but BOTH sides' watermarks advance to
    // 2024-01-02 09:00 (10:00 max event time − 1h delay)
    clicks.addData((98L, t("2024-01-02 10:00:00")))
    buys.addData((99L, t("2024-01-02 10:00:00"), 1.0))
    q.processAllAvailable()
    // batch 2: a perfectly matching pair a DAY behind the watermark is
    // dropped; a pair just above it still joins
    clicks.addData((1L, t("2024-01-01 10:00:00")), (5L, t("2024-01-02 09:30:00")))
    buys.addData((1L, t("2024-01-01 10:30:00"), 9.99),
      (5L, t("2024-01-02 09:45:00"), 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user", "amount")
      .as[(Long, Double)].collect().toSet
    assert(rows === Set((5L, 4.0)),
      "the late pair must be dropped, the in-time pair must join")
  }

  test("left-outer stream join emits the null-padded row ONLY after the watermark passes its bound") {
    // the p19 contract: an unmatched left row is not wrong YET — a match
    // could still arrive — so it must stay in state until the global
    // watermark clears its join bound, then flush exactly once
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("buser", "bts", "amount").withWatermark("bts", "1 hour")
    val joined = c.join(b,
      expr("user = buser AND bts >= cts AND bts <= cts + interval 1 hour"),
      "left_outer")
    val name = s"slo_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: one unmatched click — nothing may emit yet
    clicks.addData((1L, t("2024-01-01 10:00:00")))
    q.processAllAvailable()
    assert(spark.table(name).isEmpty,
      "an unmatched left row must wait for the watermark, not emit eagerly")
    // batch 2: watermark advances past 11:00 on BOTH sides -> flush
    clicks.addData((98L, t("2024-01-01 20:00:00")))
    buys.addData((99L, t("2024-01-01 20:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user", "amount")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(rows.contains((1L, None)),
      s"the flushed null-padded row must appear exactly after the advance: $rows")
  }

  test("full-outer stream join flushes BOTH sides' null-padded rows on watermark advance") {
    // the p20 contract: an unmatched left row AND an unmatched right row
    // must each flush null-padded once the global watermark clears that
    // row's own join bound — neither before
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("buser", "bts", "amount").withWatermark("bts", "1 hour")
    val joined = c.join(b,
      expr("user = buser AND bts >= cts AND bts <= cts + interval 1 hour"),
      "full_outer")
    val name = s"sfo_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: one unmatched row on EACH side — nothing may emit yet
    clicks.addData((1L, t("2024-01-01 10:00:00")))
    buys.addData((2L, t("2024-01-01 10:05:00"), 7.5))
    q.processAllAvailable()
    assert(spark.table(name).isEmpty,
      "unmatched rows on either side must wait for the watermark")
    // batch 2: watermark advances far past both bounds → both flush
    clicks.addData((98L, t("2024-01-01 20:00:00")))
    buys.addData((99L, t("2024-01-01 20:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user", "buser", "amount").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows.contains((Some(1L), None, None)),
      s"unmatched click must flush null-padded on the right: $rows")
    assert(rows.contains((None, Some(2L), Some(7.5))),
      s"unmatched purchase must flush null-padded on the left: $rows")
  }

  test("asymmetric watermark delays: the MIN across sides gates the outer flush") {
    // p20 carries different delays per side (clicks 30 min, purchases
    // 3 h); the global watermark is the MIN over sides, so the SLOWER
    // side gates every flush. Schedule: after the second batch the
    // clicks-side watermark alone has cleared the unmatched click's
    // bound — an engine using the faster side's (or the max) watermark
    // would emit the null-padded row here; min-semantics must withhold
    // it until the purchases side catches up.
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("user", "cts").withWatermark("cts", "30 minutes")
    val b = buys.toDF().toDF("buser", "bts", "amount").withWatermark("bts", "3 hours")
    val joined = c.join(b,
      expr("user = buser AND bts >= cts AND bts <= cts + interval 1 hour"),
      "left_outer")
    val name = s"saw_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: one unmatched click at 10:00 — its flush bound is 11:00
    clicks.addData((1L, t("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // batch 2: both sides observe 12:30 → clicks wm 12:00 (PAST the
    // bound), purchases wm 09:30 (NOT past) → global min 09:30: no flush
    clicks.addData((98L, t("2024-01-01 12:30:00")))
    buys.addData((99L, t("2024-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    assert(!spark.table(name).collect().exists(r => r.getLong(0) == 1L),
      "the slower side's watermark has not cleared the bound — min-semantics must withhold the flush")
    // batch 3: both sides observe 20:00 → purchases wm 17:00 → flush
    clicks.addData((97L, t("2024-01-01 20:00:00")))
    buys.addData((96L, t("2024-01-01 20:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user", "amount").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(rows.contains((1L, None)),
      s"once the min watermark clears the bound the row must flush: $rows")
  }

  test("transformWithState spend profile: cross-batch state, arrival-order invariant") {
    // the p21 contract off-corpus: two micro-batches, values arriving in
    // an order chosen to break naive top-3 maintenance and float-sum
    // determinism; the final (max n_events) snapshot per user must equal
    // the batch aggregate on the dsum grid
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[graft.streaming.StatefulOps.EventIn]
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val profile = graft.streaming.SpendProfile
        .userSpendProfile(input.toDS(), topN = 3).toDF()
      val name = s"tws_${System.nanoTime()}"
      val q = profile.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      // batch 1: user 1 sees a mid and a high value; user 2 one value
      input.addData(
        graft.streaming.StatefulOps.EventIn(1L, 10L, 5.5, t("2024-01-01 10:00:00")),
        graft.streaming.StatefulOps.EventIn(1L, 11L, 9.25, t("2024-01-01 10:01:00")),
        graft.streaming.StatefulOps.EventIn(2L, 12L, 1.0, t("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // batch 2: user 1's NEW max arrives later (state must displace),
      // plus a low value that must NOT enter the top-3; a value tie (5.5
      // again, larger event_id) exercises the (value desc, id asc) order
      input.addData(
        graft.streaming.StatefulOps.EventIn(1L, 13L, 20.0, t("2024-01-01 10:03:00")),
        graft.streaming.StatefulOps.EventIn(1L, 14L, 0.25, t("2024-01-01 10:04:00")),
        graft.streaming.StatefulOps.EventIn(1L, 15L, 5.5, t("2024-01-01 10:05:00")))
      q.processAllAvailable()
      q.stop()
      val fin = spark.table(name)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("sum_value"), col("top3"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.sum_value"), col("s.top3"))
        .as[(Long, Long, Double, Seq[Double])].collect()
        .map { case (u, n, sv, t3) => u -> ((n, sv, t3)) }.toMap
      spark.catalog.dropTempView(name)
      assert(fin(1L) === ((5L, 40.5, Seq(20.0, 9.25, 5.5))),
        s"user 1 cross-batch profile: ${fin(1L)}")
      assert(fin(2L) === ((1L, 1.0, Seq(1.0))), s"user 2: ${fin(2L)}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState MapState: per-type accumulation across batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import graft.streaming.TypeProfile
      val input = MemoryStream[TypeProfile.EventTyped]
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val profile = TypeProfile.userTypeProfile(input.toDS()).toDF()
      val name = s"twsmap_${System.nanoTime()}"
      val q = profile.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      input.addData(
        TypeProfile.EventTyped(1L, 10L, "click", 1.5, t("2024-01-01 10:00:00")),
        TypeProfile.EventTyped(1L, 11L, "view", 2.0, t("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // batch 2: the click count must ACCUMULATE in the map entry, and a
      // type never declared up front (purchase) must appear
      input.addData(
        TypeProfile.EventTyped(1L, 12L, "click", 0.25, t("2024-01-01 10:02:00")),
        TypeProfile.EventTyped(1L, 13L, "purchase", 9.0, t("2024-01-01 10:03:00")))
      q.processAllAvailable()
      q.stop()
      val fin = spark.table(name)
        .orderBy(col("total_n").desc).limit(1)
        .select("total_n", "click_n", "click_sum", "view_n", "view_sum",
          "purchase_n", "purchase_sum", "signup_n", "signup_sum")
        .as[(Long, Long, Option[Double], Long, Option[Double], Long,
          Option[Double], Long, Option[Double])].head()
      spark.catalog.dropTempView(name)
      assert(fin === ((4L, 2L, Some(1.75), 1L, Some(2.0), 1L, Some(9.0), 0L, None)),
        s"cross-batch map profile: $fin")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stage cache deletion is session-scoped (ADVICE r15)") {
    // seed the cache by running the p19 stream query (stages the
    // two-batch events dir for (session, sf0.001))
    graft.queries.Registry.specs.find(_.name == "p19_stream_left_outer_join").get
      .run(spark, sf0001).count()
    val dirs = graft.queries.Domain.stagedStreamDirs(spark)
    assert(dirs.nonEmpty, "p19 must have staged its two-batch input")
    def allExist = dirs.forall(d => new java.io.File(d).exists())
    assert(allExist)
    // neither the per-query release nor the application-end backstop
    // (which only reaps stopped contexts) may delete a LIVE session's
    // staged input out from under it
    graft.util.CacheRegistry.releaseQuery(spark)
    graft.util.CacheRegistry.releaseStopped()
    assert(allExist, "live session's staged dirs survive the unscoped sweep")
    assert(graft.queries.Domain.stagedStreamDirs(spark).nonEmpty,
      "live entries stay registered (the cache is reusable, not reaped)")
    // the owner cleaning up after itself deletes its own staging
    graft.util.CacheRegistry.release(spark)
    assert(dirs.forall(d => !new java.io.File(d).exists()),
      "session-scoped clear deletes the caller's staged dirs")
    assert(graft.queries.Domain.stagedStreamDirs(spark).isEmpty)
  }

  test("CMS sketch as streaming aggregation state ≡ the batch matrix (additive merge)") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftExpressions.register(spark)
    val input = MemoryStream[(String, String)]
    val agg = input.toDF().toDF("k", "it")
      .groupBy(col("k")).agg(expr("graft_cms_sketch(it, 2, 8)").as("m"))
    val name = s"cms_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(("a", "x"), ("a", "y"), ("b", "x"))
    q.processAllAvailable()
    // second micro-batch: counter state must ADD across batches exactly
    // as matrices add across partitions
    input.addData(("a", "x"), ("b", "z"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).as[(String, Seq[Long])].collect().toMap
    spark.catalog.dropTempView(name)
    val batch = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("a", "x"), ("b", "z"))
      .toDF("k", "it")
      .groupBy(col("k")).agg(expr("graft_cms_sketch(it, 2, 8)").as("m"))
      .as[(String, Seq[Long])].collect().toMap
    assert(streamed === batch)
    assert(streamed("a").sum === 2L * 3) // 3 items × depth 2 rows
  }

  test("Bloom sketch as streaming aggregation state ≡ the batch bit set (OR merge)") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftExpressions.register(spark)
    val input = MemoryStream[(String, String)]
    val agg = input.toDF().toDF("k", "it")
      .groupBy(col("k")).agg(expr("graft_bloom_sketch(it, 2, 64)").as("bits"))
    val name = s"bloom_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(("a", "x"), ("a", "y"), ("b", "x"))
    q.processAllAvailable()
    // second micro-batch: re-inserting "x" is OR-idempotent; "z" ORs in —
    // bit sets merge across batches exactly as across partitions
    input.addData(("a", "x"), ("b", "z"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).as[(String, Seq[Long])].collect().toMap
    spark.catalog.dropTempView(name)
    val batch = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("a", "x"), ("b", "z"))
      .toDF("k", "it")
      .groupBy(col("k")).agg(expr("graft_bloom_sketch(it, 2, 64)").as("bits"))
      .as[(String, Seq[Long])].collect().toMap
    assert(streamed === batch)
    // every inserted item's positions are set in its group's mask — no
    // false negatives survive the micro-batched merge tree
    for ((k, items) <- Seq("a" -> Seq("x", "y"), "b" -> Seq("x", "z"));
         it <- items; h <- 0 until 2) {
      val p = graft.functions.BloomBits.position(it, h, 64)
      assert(((streamed(k)(p >>> 6) >>> (p & 63)) & 1L) === 1L,
        s"bit $p for ($k, $it, h=$h) not set")
    }
  }

  test("MG sketch as streaming state keeps the superset guarantee across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftExpressions.register(spark)
    val input = MemoryStream[String]
    val agg = input.toDF().toDF("it")
      .agg(count(lit(1)).as("n"), expr("graft_mg_sketch(it, 2)").as("cand"))
    val name = s"mg_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    input.addData("a", "a", "b", "c")
    q.processAllAvailable()
    // second micro-batch: the k-counter state merges across batches; the
    // candidate SET may depend on the batch split, the guarantee may not
    input.addData("a", "a", "a", "d", "e", "b")
    q.processAllAvailable()
    q.stop()
    val row = spark.table(name).head()
    spark.catalog.dropTempView(name)
    assert(row.getLong(0) === 10L)
    val cand = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).toSet
    // 'a' holds 5 of 10 > 10/(k+1): a true heavy hitter must survive ANY
    // merge tree, including this micro-batched one
    assert(cand.contains("a"), s"superset guarantee violated: $cand")
    assert(cand.size <= 2, s"k-bound violated: $cand")
  }

  test("bottom-k winner set as streaming state ≡ the batch bottom-k (p14 KMV)") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftExpressions.register(spark)
    val input = MemoryStream[(String, Long, Double)]
    val agg = input.toDF().toDF("k", "id", "u")
      .withColumn("_negu", -col("u"))
      .groupBy(col("k")).agg(expr("graft_topk(id, _negu, 2)").as("tk"))
    val name = s"kmv_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(("a", 1L, 0.9), ("a", 2L, 0.3), ("b", 7L, 0.5))
    q.processAllAvailable()
    // second micro-batch: 0.1 must EVICT 0.9 from a's heap — bottom-k of
    // the union == bottom-k of the per-batch bottom-k's (a set function
    // of the stream, the property that makes the sample gateable where
    // GK/KLL merge-order-dependent retention is not)
    input.addData(("a", 3L, 0.1), ("b", 8L, 0.7))
    q.processAllAvailable()
    q.stop()
    def winnerIds(df: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] = df
      .select(col("k"), explode(col("tk")).as("_e"))
      .select(col("k"), col("_e.neighbor_id"))
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val streamed = winnerIds(spark.table(name))
    spark.catalog.dropTempView(name)
    val batch = winnerIds(
      Seq(("a", 1L, 0.9), ("a", 2L, 0.3), ("b", 7L, 0.5), ("a", 3L, 0.1), ("b", 8L, 0.7))
        .toDF("k", "id", "u").withColumn("_negu", -col("u"))
        .groupBy(col("k")).agg(expr("graft_topk(id, _negu, 2)").as("tk")))
    assert(streamed === batch)
    assert(streamed("a") === Set(2L, 3L), "0.9 must be evicted across the batch boundary")
  }

  test("windowed courier KPIs run as a stream over generated bronze") {
    val dir = tempDir("graft_stream_kpi_").toString
    BronzeGenerator.shipments(spark, 300, 42L, "2024-01-01")
      .write.mode("overwrite").json(dir)
    val silver = SilverStream.silverStream(spark, dir, "2024-01-01", ts)
    val kpis = SilverStream.courierWindowedKpis(silver, watermark = "30 days", window_ = "1 day")
    val out = SilverStream.runToMemory(kpis, s"kpi_${System.nanoTime()}", "complete")
    assert(out.count() > 0)
    assert(out.filter(col("n_events") <= 0).count() === 0)
  }

  test("cdcUpsertSink converges to the same table under any batching, order, or replay") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // change set: user 1 updated twice (later ts wins), user 2 once,
    // user 3's two changes share a ts (event_id breaks the tie)
    val changes = Seq(
      (1L, 10L, t("2024-01-01 10:00:00"), "a", 1.0),
      (1L, 11L, t("2024-01-01 11:00:00"), "b", 2.0),
      (2L, 12L, t("2024-01-01 09:00:00"), "c", 3.0),
      (3L, 13L, t("2024-01-01 08:00:00"), "d", 4.0),
      (3L, 14L, t("2024-01-01 08:00:00"), "e", 5.0))
    val expected = Map(
      1L -> (11L, "b", 2.0), 2L -> (12L, "c", 3.0), 3L -> (14L, "e", 5.0))
    def runWith(batches: Seq[Seq[(Long, Long, java.sql.Timestamp, String, Double)]]): Map[Long, (Long, String, Double)] = {
      val dir = tempDir("graft_cdc_").toString + "/state"
      val input = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
      val q = SilverStream.cdcUpsertSink(
          input.toDF().toDF("user_id", "event_id", "ts", "event_type", "value"),
          dir, "user_id", Seq("ts", "event_id"))
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation",
          tempDir("graft_cdc_ck_").toString)
        .start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // the sink vacuums to two versions after each apply
      assert(new java.io.File(dir, "_log").list().count(_.forall(_.isDigit)) ===
        math.min(batches.size, 2))
      graft.io.VersionedTable.read(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3), r.getDouble(4))))
        .toMap
    }
    // one batch, row-per-batch in order, row-per-batch REVERSED (stale
    // changes arrive after newer ones and must not regress the table)
    assert(runWith(Seq(changes)) === expected)
    assert(runWith(changes.map(Seq(_))) === expected)
    assert(runWith(changes.reverse.map(Seq(_))) === expected)
    // replaying the final batch is a no-op (at-least-once tolerance)
    assert(runWith(changes.map(Seq(_)) :+ Seq(changes.last)) === expected)
  }

  test("scd2Sink converges to the batch history under any day grouping, replay, or stale delivery") {
    implicit val sqlCtx = spark.sqlContext
    // three days of snapshots: key 1 changes on day 2, key 2 disappears
    // on day 2 (closure) and returns on day 3, key 3 never changes
    val day1 = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val day2 = Seq((1L, "a2"), (3L, "c"))
    val day3 = Seq((1L, "a2"), (2L, "b3"), (3L, "c"))
    val snaps = Map("2024-01-01" -> day1, "2024-01-02" -> day2, "2024-01-03" -> day3)
    def expected: Set[(Long, String, String, Option[String], Boolean)] = {
      import spark.implicits._
      val d1 = graft.gold.Scd2.init(day1.toDF("k", "attr"), "k", Seq("attr"), "2024-01-01")
      val d2 = graft.gold.Scd2(d1, day2.toDF("k", "attr"), "k", Seq("attr"), "2024-01-02")
      graft.gold.Scd2(d2, day3.toDF("k", "attr"), "k", Seq("attr"), "2024-01-03")
        .as[(Long, String, String, Option[String], Boolean)].collect().toSet
    }
    def runWith(batches: Seq[Seq[String]]): Set[(Long, String, String, Option[String], Boolean)] = {
      val dir = tempDir("graft_scd2s_").toString + "/dim"
      val input = MemoryStream[(Long, String, String)]
      val q = SilverStream.scd2Sink(
          input.toDF().toDF("k", "attr", "_day"), dir, "k", Seq("attr"), "_day")
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation",
          tempDir("graft_scd2s_ck_").toString)
        .start()
      batches.foreach { days =>
        input.addData(days.flatMap(d => snaps(d).map { case (k, a) => (k, a, d) }): _*)
        q.processAllAvailable()
      }
      q.stop()
      graft.io.VersionedTable.read(spark, dir)
        .as[(Long, String, String, Option[String], Boolean)].collect().toSet
    }
    val exp = expected
    // all days in one batch; one day per batch; days 1+2 then 3
    assert(runWith(Seq(Seq("2024-01-01", "2024-01-02", "2024-01-03"))) === exp)
    assert(runWith(Seq(Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-03"))) === exp)
    assert(runWith(Seq(Seq("2024-01-01", "2024-01-02"), Seq("2024-01-03"))) === exp)
    // at-least-once: the last day replays after being applied — no-op
    assert(runWith(Seq(Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-03"),
      Seq("2024-01-03"))) === exp)
    // a STALE day arrives after newer ones — skipped by the
    // last-applied-day guard, must not regress history
    assert(runWith(Seq(Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-01"), Seq("2024-01-03"),
      Seq("2024-01-01"))) === exp)
  }

  test("scd2Sink fails LOUDLY on a day split across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_scd2_split_").toString + "/dim"
    val input = MemoryStream[(Long, String, String)]
    val q = SilverStream.scd2Sink(
        input.toDF().toDF("k", "attr", "_day"), dir, "k", Seq("attr"), "_day")
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        tempDir("graft_scd2_split_ck_").toString)
      .start()
    input.addData((1L, "a", "2024-01-01"), (3L, "c", "2024-01-01"))
    q.processAllAvailable()
    // day 2's snapshot arrives SPLIT: the first half (key 1 only)
    // applies as if it were the whole day — closing key 3 — and the
    // second half lands at-or-below lastApplied. Swallowing it would
    // leave wrong history (key 3 closed though its day-2 row exists),
    // so the stale-day guard must throw instead of no-op.
    input.addData((1L, "a2", "2024-01-02"))
    q.processAllAvailable()
    input.addData((3L, "c", "2024-01-02"))
    val thrown = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def root(e: Throwable): Throwable =
      if (e.getCause == null || e.getCause == e) e else root(e.getCause)
    assert(root(thrown).getMessage.contains("stale-day guard"),
      s"split day must hit the loud path, got: $thrown")
  }

  test("scd2Sink fails LOUDLY when a genuinely new day arrives out of order") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_scd2_ooo_").toString + "/dim"
    val input = MemoryStream[(Long, String, String)]
    val q = SilverStream.scd2Sink(
        input.toDF().toDF("k", "attr", "_day"), dir, "k", Seq("attr"), "_day")
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        tempDir("graft_scd2_ooo_ck_").toString)
      .start()
    input.addData((1L, "a", "2024-01-01"))
    q.processAllAvailable()
    input.addData((1L, "a3", "2024-01-03"))
    q.processAllAvailable()
    // day 2 arrives AFTER day 3 with a change the history never saw —
    // the old behavior dropped it forever (indistinguishable from a
    // benign replay); now it must fail loudly
    input.addData((1L, "a2", "2024-01-02"))
    val thrown = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def root(e: Throwable): Throwable =
      if (e.getCause == null || e.getCause == e) e else root(e.getCause)
    assert(root(thrown).getMessage.contains("stale-day guard"),
      s"out-of-order new day must hit the loud path, got: $thrown")
  }

  test("annProbeSink converges to the batch probe under any query batching or replay") {
    implicit val sqlCtx = spark.sqlContext
    // small planted corpus: 40 vectors on 4 axes + noise dims
    val emb = (0L until 40L).map { i =>
      val v = Array.fill(8)(0.01f * ((i * 7 + 3) % 5))
      v((i % 4).toInt) = 1.0f
      (i, v, (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = tempDir("graft_annidx_").toString + "/idx"
    graft.operators.Similarity.buildIvfIndex(spark, emb, idx)
    val queries = (0L until 4L).map { i =>
      val v = Array.fill(8)(0.0f)
      v(i.toInt) = 1.0f
      (100L + i, v, i.toInt)
    }
    val expected = graft.operators.Similarity
      .ivfTopKAgainstIndex(spark, queries.toDF("vec_id", "embedding", "label"), idx, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    def runWith(batches: Seq[Seq[(Long, Array[Float], Int)]]): Set[(Long, Long, Long)] = {
      val out = tempDir("graft_annout_").toString + "/hits"
      val input = MemoryStream[(Long, Array[Float], Int)]
      val q = SilverStream.annProbeSink(
          input.toDF().toDF("vec_id", "embedding", "label"), out, idx, k = 5)
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation",
          tempDir("graft_annout_ck_").toString)
        .start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      graft.io.VersionedTable.read(spark, out)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    // all queries in one batch; query-per-batch; replayed last query
    assert(runWith(Seq(queries)) === expected)
    assert(runWith(queries.map(Seq(_))) === expected)
    assert(runWith(queries.map(Seq(_)) :+ Seq(queries.last)) === expected)
  }

  test("annProbeSink keys are collision-free at k >= 100") {
    implicit val sqlCtx = spark.sqlContext
    // 2-cell index over 260 near-axis vectors with nProbe covering both
    // cells, so every query ranks ALL other vectors: ranks run past 100
    // and the old arithmetic key packing (query_id*100+rank) would
    // collide across the two queries (100*100+120 == 101*100+20),
    // silently merging their rows. The composite string key must keep
    // every (query, rank) row distinct.
    val emb = (0L until 260L).map { i =>
      val v = Array.fill(4)(0.001f * ((i * 13 + 5) % 7))
      v((i % 2).toInt) = 1.0f
      (i, v, (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = tempDir("graft_annidx_k100_").toString + "/idx"
    graft.operators.Similarity.buildIvfIndex(spark, emb, idx, nCells = 2)
    val queries = Seq(100L, 101L).map { i =>
      val v = Array.fill(4)(0.0f)
      v((i % 2).toInt) = 1.0f
      (i, v, (i % 2).toInt)
    }
    val expected = graft.operators.Similarity
      .ivfTopKAgainstIndex(spark, queries.toDF("vec_id", "embedding", "label"), idx, k = 120)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.size === 2 * 120, "each query must rank past 100")
    val out = tempDir("graft_annout_k100_").toString + "/hits"
    val input = MemoryStream[(Long, Array[Float], Int)]
    val q = SilverStream.annProbeSink(
        input.toDF().toDF("vec_id", "embedding", "label"), out, idx, k = 120)
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        tempDir("graft_annout_k100_ck_").toString)
      .start()
    input.addData(queries: _*)
    q.processAllAvailable()
    q.stop()
    val got = graft.io.VersionedTable.read(spark, out)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected,
      "k >= 100 must not lose rows to cross-query key collisions")
  }

  test("annProbeSink: a later epoch's re-probe supersedes stale hits after an index rebuild") {
    implicit val sqlCtx = spark.sqlContext
    def corpus(offset: Long) = (0L until 30L).map { i =>
      val v = Array.fill(4)(0.0f)
      v((i % 2).toInt) = 1.0f
      v(2) = 0.01f * i
      (offset + i, v, (i % 2).toInt)
    }
    val idx = tempDir("graft_annidx_rb_").toString + "/idx"
    // first build signs the corpus under HIGH vec_ids (1000+): the
    // rebuild re-signs it under low ids (0..29), so an ordering on
    // neighbor_id alone would keep the stale high-id rows forever
    graft.operators.Similarity.buildIvfIndex(spark, corpus(1000L).toDF("vec_id", "embedding", "label"), idx, nCells = 2)
    val query = Seq({
      val v = Array.fill(4)(0.0f); v(0) = 1.0f; (500L, v, 0)
    })
    val out = tempDir("graft_annout_rb_").toString + "/hits"
    val input = MemoryStream[(Long, Array[Float], Int)]
    val q = SilverStream.annProbeSink(
        input.toDF().toDF("vec_id", "embedding", "label"), out, idx, k = 5)
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        tempDir("graft_annout_rb_ck_").toString)
      .start()
    input.addData(query: _*)
    q.processAllAvailable()
    // rebuild re-signs the corpus under LOW vec_ids (0..29): the later
    // epoch's re-probe must replace the stale 1000+ rows even though
    // every new neighbor_id sorts BELOW them
    graft.operators.Similarity.buildIvfIndex(spark, corpus(0L).toDF("vec_id", "embedding", "label"), idx, nCells = 2)
    input.addData(query: _*)
    q.processAllAvailable()
    q.stop()
    val expected = graft.operators.Similarity
      .ivfTopKAgainstIndex(spark, query.toDF("vec_id", "embedding", "label"), idx, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val got = graft.io.VersionedTable.read(spark, out)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected,
      "after an index rebuild the re-probe's rows must win the upsert")
    assert(got.forall(_._3 < 1000L), "no stale pre-rebuild neighbor ids survive")
  }

  test("cdcUpsertSink per-batch work tracks the BATCH, not the table (dirty buckets only)") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tempDir("graft_cdc_scale_").toString + "/state"
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
    val q = SilverStream.cdcUpsertSink(
        input.toDF().toDF("user_id", "event_id", "ts", "event_type", "value"),
        dir, "user_id", Seq("ts", "event_id"))
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        tempDir("graft_cdc_scale_ck_").toString)
      .start()
    // batch 1: 300 users spread across all 16 buckets
    input.addData((1L to 300L).map(u =>
      (u, u, t("2024-01-01 10:00:00"), "a", 1.0)): _*)
    q.processAllAvailable()
    // the current version's bucket dirs: a rewritten bucket gets a new dir
    def dirs(): Set[String] =
      graft.io.VersionedTable.base(spark, dir).current.get.dirs.toSet
    val before = dirs()
    assert(before.size === 16, "300 keys must populate all 16 buckets")
    // batch 2: ONE user updates — exactly one bucket may rewrite
    input.addData((7L, 1000L, t("2024-01-01 11:00:00"), "b", 2.0))
    q.processAllAvailable()
    q.stop()
    val after = dirs()
    val changed = before -- after
    assert(changed.size === 1 && after.size === 16,
      s"a 1-key batch must rewrite exactly 1 of 16 buckets, rewrote $changed")
    // and the table is still the converged per-key argmax
    val row7 = graft.io.VersionedTable.read(spark, dir)
      .filter(col("user_id") === 7L)
      .select("event_id", "event_type").as[(Long, String)].collect()
    assert(row7.toSeq === Seq((1000L, "b")))
    assert(graft.io.VersionedTable.read(spark, dir).count() === 300)
  }

}
