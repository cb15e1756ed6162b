package graft

import org.apache.spark.sql.functions._

import graft.gold.Scd2
import graft.io.{Merge, VersionedTable}
import graft.silver.DataQuality

/** Lakehouse table operations: upsert/merge, SCD2 history, row-level
  * data-quality quarantine. */
class LakehouseOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("upsert: updates win, inserts append, untouched rows survive") {
    val dir = tempDir("graft_merge_").toString + "/t"
    VersionedTable.write(spark, dir, Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v"))
    val updates = Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val (before, after, updated, inserted) = VersionedTable.upsert(spark, dir, updates, "k")
    assert((before, after, updated, inserted) === ((3L, 4L, 1L, 1L)))
    val rows = VersionedTable.read(spark, dir).as[(Long, String, Double)].collect().toSet
    assert(rows === Set((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("scd2: attribute change closes old version and opens new") {
    val d0 = Scd2.init(
      Seq(("DHL", "east"), ("UPS", "west")).toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-01")
    // day 2: DHL moves zones, UPS unchanged, FEDEX appears
    val d1 = Scd2.apply(d0,
      Seq(("DHL", "north"), ("UPS", "west"), ("FEDEX", "south")).toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-02")
    val rows = d1.select("courier", "zone", "effective_from", "effective_to", "is_current")
      .as[(String, String, String, Option[String], Boolean)].collect().toSet
    assert(rows === Set(
      ("DHL", "east", "2024-01-01", Some("2024-01-02"), false),
      ("DHL", "north", "2024-01-02", None, true),
      ("UPS", "west", "2024-01-01", None, true),
      ("FEDEX", "south", "2024-01-02", None, true)))
    // day 3: DHL disappears entirely → its current row closes
    val d2 = Scd2.apply(d1,
      Seq(("UPS", "west"), ("FEDEX", "south")).toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-03")
    val dhl = d2.filter($"courier" === "DHL")
      .select("zone", "is_current").as[(String, Boolean)].collect().toSet
    assert(dhl === Set(("east", false), ("north", false)))
  }

  test("scd2: a key that disappears and returns re-opens a fresh version") {
    val d0 = Scd2.init(
      Seq(("DHL", "east")).toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-01")
    val d1 = Scd2.apply(d0,
      Seq.empty[(String, String)].toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-02")
    val d2 = Scd2.apply(d1,
      Seq(("DHL", "east")).toDF("courier", "zone"),
      "courier", Seq("zone"), "2024-01-03")
    val rows = d2.select("courier", "zone", "effective_from", "effective_to", "is_current")
      .as[(String, String, String, Option[String], Boolean)].collect().toSet
    assert(rows === Set(
      ("DHL", "east", "2024-01-01", Some("2024-01-02"), false),
      ("DHL", "east", "2024-01-03", None, true)),
      "the returning key must open a NEW version, not resurrect the closed one")
  }

  test("pipeline rerun for the same load date is idempotent (overwrite-per-partition)") {
    val tmp = tempDir("graft_idem_").toString
    val r1 = graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 300L)
    val r2 = graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 300L)
    assert(r1.map(s => s.stage -> s.rows).toMap === r2.map(s => s.stage -> s.rows).toMap)
  }

  test("day-2 pipeline run must NOT wipe day-1's silver partition") {
    val tmp = tempDir("graft_2day_").toString
    graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 200L)
    graft.Pipeline.run(spark, tmp, "2024-01-02", nShipments = 200L)
    val dates = Seq("2024-01-01", "2024-01-02").map(d => d ->
      graft.Pipeline.readSilver(spark, tmp, d).select("load_date").distinct().as[String].collect().toSeq)
    assert(dates === Seq("2024-01-01" -> Seq("2024-01-01"), "2024-01-02" -> Seq("2024-01-02")),
      "a load must leave every other load_date's silver readable")
  }

  /** Runs `body` while a second thread loops `read`; returns every value
    * the thread read and its failure, if any. */
  private def readsDuring(read: => Long)(body: => Unit): (Seq[Long], Option[Throwable]) = {
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      try while (!stop.get()) observed.add(read)
      catch { case t: Throwable => failure.set(t) })
    reader.start()
    try body
    finally { stop.set(true); reader.join(30000) }
    import scala.jdk.CollectionConverters._
    (observed.asScala.toSeq, Option(failure.get()))
  }

  test("gold tables stay fully readable while a rerun republishes them") {
    val tmp = tempDir("graft_goldv_").toString
    val r1 = graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 300L)
    val expected = r1.find(_.stage == "gold/fact_shipment").get.rows
    // reader loops over the versioned gold table while the pipeline reruns;
    // with a plain overwrite this window shows a missing/partial table
    val (observed, failure) = readsDuring(
      graft.Pipeline.readGold(spark, tmp, "2024-01-01", "fact_shipment").count()) {
      graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 300L)
    }
    assert(failure.isEmpty, s"reader failed mid-rerun: $failure")
    assert(observed.nonEmpty, "reader must have completed at least one read")
    assert(observed.toSet === Set(expected),
      "every read during the rerun must see a complete committed snapshot")
  }

  test("silver stays fully readable while re-loads republish its date") {
    val tmp = tempDir("graft_silverv_").toString
    val date = "2024-01-01"
    def load() = graft.Pipeline.run(spark, tmp, date, nShipments = 3000L)
    val expected = load().find(_.stage == "silver").get.rows
    val (observed, failure) = readsDuring(graft.Pipeline.readSilver(spark, tmp, date).count()) {
      (1 to 5).foreach(_ => load())
    }
    assert(failure.isEmpty, s"reader failed mid-reload: $failure")
    assert(observed.nonEmpty, "reader must have completed at least one read")
    assert(observed.toSet === Set(expected),
      "every read during the re-loads must see the clean load's rows")
  }

  test("silver crash state: a load whose marker never landed is invisible, and a re-run commits") {
    val tmp = tempDir("graft_silvercrash_").toString
    val date = "2024-01-01"
    val root = s"$tmp/silver/shipments/load_date=$date"
    def silverRows(r: Seq[graft.Pipeline.StageResult]) = r.find(_.stage == "silver").get.rows
    val first = silverRows(graft.Pipeline.run(spark, tmp, date, nShipments = 200L))
    // the crash state: the second load's snapshot was written, its marker
    // never was (a clean load with its marker removed again)
    val clean = silverRows(graft.Pipeline.run(spark, tmp, date, nShipments = 300L))
    assert(clean !== first, "fixture sanity: the two loads differ")
    val marker = new java.io.File(root, "_log").listFiles().maxBy(_.getName)
    val orphan = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim
    assert(marker.delete())
    assert(graft.Pipeline.readSilver(spark, tmp, date).count() === first,
      "an uncommitted load is invisible to readers")
    val rerun = silverRows(graft.Pipeline.run(spark, tmp, date, nShipments = 300L))
    assert(rerun === clean)
    assert(graft.Pipeline.readSilver(spark, tmp, date).count() === clean,
      "the re-run converges to the clean load")
    assert(new java.io.File(root, orphan).isDirectory, "the load's own vacuum spares young dirs")
    VersionedTable.vacuum(spark, root, orphanAgeMs = 0)
    assert(!new java.io.File(root, orphan).exists(), "vacuum sweeps the orphan snapshot")
    assert(graft.Pipeline.readSilver(spark, tmp, date).count() === clean)
  }

  test("training export: shard-partitioned, dense positions, idempotent overwrite") {
    val dir = tempDir("graft_texp_").toString + "/corpus"
    val docs = graft.io.Corpus.documents(spark, sf0001)
    val back = graft.io.TrainingExport.exportTrainingCorpus(docs, dir, nShards = 4)
    // physical layout: one partition dir per shard, prunable by readers
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === 4, s"expected 4 shard partitions: ${shardDirs.mkString(",")}")
    // every shard's positions are exactly 0..n-1 (a loader can stream in order)
    val byShard = back.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), countDistinct("pos").as("d"))
      .as[(Int, Long, Long, Long)].collect()
    byShard.foreach { case (s, n, mx, d) =>
      assert(mx === n - 1 && d === n, s"shard $s positions must be dense 0..${n - 1}")
    }
    // the export is the manifest's selection — no duplicate texts survive
    assert(back.count() === back.select("text").distinct().count(),
      "exact dups must not reach the training corpus")
    // re-export overwrites in place with identical content (snapshot the
    // first run's rows BEFORE overwriting — the lazy read-back frame
    // points at files the overwrite deletes; see the operator's scaladoc)
    val first = back.select("doc_id", "global_pos").as[(Long, Long)].collect().toSet
    val again = graft.io.TrainingExport.exportTrainingCorpus(docs, dir, nShards = 4)
    val second = again.select("doc_id", "global_pos").as[(Long, Long)].collect().toSet
    assert(second === first, "re-export is bit-stable")
    // a re-export with fewer shards replaces every shard of the one before
    graft.io.TrainingExport.exportTrainingCorpus(docs, dir, nShards = 8)
    val fewer = graft.io.TrainingExport.exportTrainingCorpus(docs, dir, nShards = 4)
    val fewerRows = fewer.select("doc_id", "global_pos").as[(Long, Long)].collect().toSeq
    assert(fewerRows.size === first.size && fewerRows.toSet === first,
      "a fewer-shards re-export reads back exactly its own rows")
    assert(fewer.select("shard").distinct().as[Int].collect().sorted.toSeq === (0 until 4))
    assert(new java.io.File(dir).list().filter(_.startsWith("shard=")).sorted.toSeq ===
      (0 until 4).map(i => s"shard=$i"), "no shard dir of the 8-shard export survives")
  }

  test("retryStage: transient failure succeeds on retry, each failure observed") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var exhausted = 0
    val hooks = graft.Pipeline.Hooks(
      onStageFailure = (s, _, n) => failures += (s -> n),
      onExhausted = (_, _) => exhausted += 1)
    var calls = 0
    val out = graft.Pipeline.retryStage("flaky", graft.Pipeline.RetryPolicy(maxRetries = 2), hooks) {
      calls += 1
      if (calls < 3) sys.error(s"transient $calls")
      "ok"
    }
    assert(out === "ok" && calls === 3)
    assert(failures.toList === List("flaky" -> 1, "flaky" -> 2))
    assert(exhausted === 0, "exhaustion hook must not fire when a retry succeeds")
  }

  test("retryStage: exhaustion fires the failure hook once and rethrows") {
    var exhausted = List.empty[String]
    var attempts = 0
    val hooks = graft.Pipeline.Hooks(onExhausted = (s, _) => exhausted ::= s)
    val e = intercept[RuntimeException] {
      graft.Pipeline.retryStage("doomed", graft.Pipeline.RetryPolicy(maxRetries = 1), hooks) {
        attempts += 1; sys.error("permanent")
      }
    }
    assert(e.getMessage === "permanent")
    assert(attempts === 2, "one initial try + one retry")
    assert(exhausted === List("doomed"), "notify_failure fires exactly once")
  }

  test("pipeline quarantine stage routes no clean generated rows, reports a stage result") {
    val tmp = tempDir("graft_quar_").toString
    val results = graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 200L, quarantine = true)
    val q = results.find(_.stage == "quarantine").get
    assert(q.rows === 0L, "generated bronze satisfies every silver rule")
    // silver output is identical to a quality-off run on the same seed
    val off = tempDir("graft_quar_off_").toString
    val base = graft.Pipeline.run(spark, off, "2024-01-01", nShipments = 200L)
    assert(results.find(_.stage == "silver").get.rows === base.find(_.stage == "silver").get.rows)
  }

  test("pipeline run fires the success hook with every stage result") {
    val tmp = tempDir("graft_hooks_").toString
    var notified = Seq.empty[graft.Pipeline.StageResult]
    graft.Pipeline.run(spark, tmp, "2024-01-01", nShipments = 200L,
      hooks = graft.Pipeline.Hooks(onSuccess = notified = _))
    assert(notified.map(_.stage).toSet ===
      Set("bronze", "silver", "dim_courier", "dim_location", "dim_date",
        "dim_shipment_status", "fact_shipment", "fact_tracking_event",
        "fact_courier_metrics").map(s => if (s.startsWith("dim") || s.startsWith("fact")) s"gold/$s" else s))
    assert(notified.forall(_.rows > 0))
  }

  test("PipelineMain: arg parsing and end-to-end run on an existing session") {
    val a = PipelineMain.parse(Array("/data/lh", "2024-01-01",
      "--shipments", "250", "--quarantine", "--retries", "2"))
    assert(a === PipelineMain.Args("/data/lh", "2024-01-01",
      nShipments = 250L, quarantine = true, retries = 2))
    intercept[IllegalArgumentException](PipelineMain.parse(Array("/data/lh", "01-01-2024")))
    intercept[IllegalArgumentException](PipelineMain.parse(Array("/data/lh", "2024-01-01", "--bogus")))

    val tmp = tempDir("graft_main_").toString
    val results = PipelineMain.run(spark,
      PipelineMain.Args(tmp, "2024-01-01", nShipments = 200L, quarantine = true))
    assert(results.exists(r => r.stage == "silver" && r.rows > 0))
    assert(results.count(_.stage.startsWith("gold/")) === 7)
    assert(Pipeline.readGold(spark, tmp, "2024-01-01", "fact_shipment").count() > 0)
  }

  test("upsert with duplicate update keys reports key-level counts") {
    val dir = tempDir("graft_merge2_").toString + "/t"
    VersionedTable.write(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    // two update rows for the same existing key + one new key
    val updates = Seq((2L, "b2"), (2L, "b3"), (9L, "z")).toDF("k", "name")
    val (before, after, updated, inserted) = VersionedTable.upsert(spark, dir, updates, "k")
    assert((before, updated, inserted) === ((2L, 1L, 1L)))
    assert(after === 4L) // 1 untouched + 2 rows for k=2 (grain preserved) + 1 new
  }

  test("data quality: violations quarantine with rule names, clean rows pass") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val later = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val df = Seq(
      ("TN1", 1.0, 2, ts, later, ts),                       // clean
      ("", 1.0, 2, ts, later, ts),                          // empty tracking
      ("TN3", -5.0, -1, ts, later, ts),                     // weight + days bad
      ("TN4", 1.0, 2, later, ts, ts))                       // updated < created
      .toDF("tracking_number", "shipment_weight", "delivery_days",
        "created_at", "updated_at", "checkpoint_time")
    val split = DataQuality.check(df, DataQuality.silverRules)
    assert(split.clean.count() === 1)
    val q = split.quarantine
      .select(col("tracking_number"), array_sort(col("violations")).cast("string"))
      .as[(String, String)].collect().toMap
    assert(q("") .contains("tracking_number_present"))
    assert(q("TN3").contains("delivery_days_nonnegative") && q("TN3").contains("weight_in_range"))
    assert(q("TN4").contains("event_order_sane"))
  }

  test("zOrder interleave matches a reference Morton encoding") {
    import graft.io.ZOrder
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = pts.toDF("x", "y")
      .withColumn("z", ZOrder.interleave(col("x"), col("y"), 4))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z === morton(x, y, 4), s"($x,$y)") }
    // the defining property: z-neighbors stay spatial neighbors — the
    // 4-bucket split of a 16x16 grid is exactly its four 8x8 quadrants
    val buckets = got.groupBy { case (x, y, z) => z >> 6 }
    assert(buckets.size === 4)
    buckets.foreach { case (_, cell) =>
      assert(cell.map(_._1).max - cell.map(_._1).min <= 7)
      assert(cell.map(_._2).max - cell.map(_._2).min <= 7)
    }
  }

  test("zOrder layout prunes a box query where a single-column sort cannot") {
    import graft.io.ZOrder
    // uniform 64x64 grid of keys; centered ~10% box
    val rows = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val stats = ZOrder.layoutStats(rows, "x", "y", bits = 6, log2Buckets = 6,
      xLoPm = 450, xHiPm = 550, yLoPm = 450, yHiPm = 550).collect()
    assert(stats.length === 64)
    assert(stats.map(_.getAs[Long]("n_rows")).sum === 64L * 64)
    val overlapping = stats.count(_.getAs[Boolean]("box_overlap"))
    // each of the 64 z-buckets is an 8x8 tile: a 7-wide centered box
    // crosses at most a 2x2 tile neighborhood
    assert(overlapping <= 4, s"z-order must localize the box: $overlapping")
    // the same stats computed on a sort-by-x layout (bucket = x-range
    // stripe): EVERY stripe spans the full y domain, so every stripe
    // containing box x-values overlaps — and the box x-range hits few
    // stripes only on x, never pruning on y. Simulate: stripe = x >> 0
    // quantized to 64 buckets of x alone — y min/max is always [0,63],
    // so overlap reduces to the x test alone, 8x more buckets than the
    // 2x2 z-neighborhood when the box widens on y.
    val wide = ZOrder.layoutStats(rows, "x", "y", bits = 6, log2Buckets = 6,
      xLoPm = 450, xHiPm = 550, yLoPm = 0, yHiPm = 1000).collect()
      .count(_.getAs[Boolean]("box_overlap"))
    // full-height box: z-order degrades gracefully to a column of tiles
    assert(wide <= 16, s"full-height box touches one tile column + borders: $wide")
  }

  test("zOrder quantize is monotone and in range at domain scale") {
    import graft.io.ZOrder
    // keys near the 2^53 double-exactness cliff: the integer div path
    // must stay exact where a double round-trip would not
    val big = Seq(0L, 1L, 9999999999L, 10000000000L)
      .toDF("x").withColumn("mx", lit(10000000000L))
      .select(ZOrder.quantize("x", "mx", 20).as("q"))
      .as[Long].collect()
    assert(big.head === 0L && big.last < (1L << 20))
    assert(big === big.sorted, "quantization must be monotone")
  }

  // ---- bucketed LWW CDC merge (the scale-safe p15 target layout) ----

  private def lwwCols(dir: String) = VersionedTable.read(spark, dir)
    .select("k", "name", "v")

  /** bucket → its dir in the current version's manifest — the "was this
    * bucket rewritten" probe: a rewrite commits a new dir. */
  private def bucketDirs(dir: String): Map[Int, String] =
    VersionedTable.base(spark, dir).current.get.dirs
      .map(d => d.substring(d.lastIndexOf('=') + 1).toInt -> d).toMap

  test("bucketed lww upsert: converges to the per-key argmax and only dirty buckets rewrite") {
    val dir = tempDir("graft_blww_").toString + "/t"
    // enough keys that most of the 16 buckets are populated
    val base = (1L to 200L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v")
    val d0 = Merge.lwwUpsertParquetBucketed(spark, dir, base, "k", Seq("v"))
    assert(d0.nonEmpty && VersionedTable.read(spark, dir).count() === 200)
    val before = bucketDirs(dir)
    assert(before.size > 8, s"200 keys should populate most buckets, got ${before.size}")
    // small batch: 2 keys (one stale change that must NOT regress k=7)
    val batch = Seq((7L, "new7", 5L), (7L, "stale7", 0L), (8L, "new8", 3L))
      .toDF("k", "name", "v")
    val dirty = Merge.lwwUpsertParquetBucketed(spark, dir, batch, "k", Seq("v"))
    // touched-bucket count ∝ distinct update buckets, NOT target size
    assert(dirty.size <= 2, s"2 update keys must touch <= 2 buckets, got $dirty")
    // exactly the dirty buckets' dirs change between the two versions
    val after = bucketDirs(dir)
    assert(after.keySet === before.keySet ++ dirty)
    assert(after.filter { case (b, d) => before.get(b) != Some(d) }.keySet === dirty.toSet,
      s"only dirty buckets may get new dirs: $before -> $after")
    // LWW semantics across the merge: max-v row wins per key
    def asMap() = lwwCols(dir).as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val got = asMap()
    assert(got(7L) === (("new7", 5L)) && got(8L) === (("new8", 3L)))
    assert(got(9L) === (("n9", 1L)), "untouched key must survive")
    assert(got.size === 200)
    // replaying the batch is a no-op (at-least-once tolerance)
    Merge.lwwUpsertParquetBucketed(spark, dir, batch, "k", Seq("v"))
    assert(asMap() === got)
    // bucket-count mismatch fails loudly, never a second layout
    intercept[IllegalArgumentException] {
      Merge.lwwUpsertParquetBucketed(spark, dir, batch, "k", Seq("v"), numBuckets = 8)
    }
    // the apply's scoped read opens only the dirty buckets' dirs, so
    // clean buckets' files are never read
    val m = VersionedTable.base(spark, dir).current.get
    val scopedFiles = Merge.scopedTarget(spark, dir, m, dirty).inputFiles.toSeq
    val dirtyDirs = dirty.map(bucketDirs(dir))
    assert(scopedFiles.nonEmpty && scopedFiles.forall(f => dirtyDirs.exists(d => f.contains(s"/$d/"))),
      s"scoped read must open only $dirtyDirs, opened $scopedFiles")
  }

  test("bucketed lww upsert equals the unbucketed merge on the same change set") {
    val dirB = tempDir("graft_blww_eq_").toString + "/b"
    val batches = Seq(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 1L)),
      Seq((2L, "b2", 5L), (4L, "d", 1L)),
      Seq((1L, "stale", 0L), (3L, "c2", 9L)))
    batches.foreach { b =>
      Merge.lwwUpsertParquetBucketed(spark, dirB, b.toDF("k", "name", "v"),
        "k", Seq("v", "name"), numBuckets = 4)
    }
    // the reference: the pure LWW frame over the whole change set
    val reference = Merge.lww(batches.flatten.toDF("k", "name", "v"), "k", Seq("v", "name"))
    assert(lwwCols(dirB).as[(Long, String, Long)].collect().sorted.toSeq ===
      reference.as[(Long, String, Long)].collect().sorted.toSeq)
  }

  test("lww crash recovery: an apply crashed before its marker leaves the prior version, and the replay merges into it") {
    val dir = tempDir("graft_lww_cr_").toString + "/t"
    Merge.lwwUpsertParquetBucketed(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    // the crash state: an apply wrote its snapshot dir (a one-row
    // bucket leaf) and died before creating its marker
    val orphan = new java.io.File(dir, "d-0rphan000000/_b=0")
    Seq((3L, "c", 1L, 0)).toDF("k", "name", "v", "_bucket").write.parquet(orphan.toString)
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L))
    assert(lwwCols(dir).select("k").as[Long].collect().toSet === Set(1L, 2L),
      "a snapshot without a marker is invisible")
    // the replayed epoch merges into the committed version, not a bootstrap
    Merge.lwwUpsertParquetBucketed(spark, dir,
      Seq((3L, "c", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    assert(lwwCols(dir).select("k").as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
  }

  test("bucketed lww crash recovery: an empty marker from a crashed commit is skipped and no key is lost") {
    val dir = tempDir("graft_blww_cr_").toString + "/t"
    val base = (1L to 50L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v")
    Merge.lwwUpsertParquetBucketed(spark, dir, base, "k", Seq("v"), numBuckets = 8)
    // the crash state: an apply created marker 2 and died before
    // writing its manifest into it
    assert(new java.io.File(dir, "_log/000000002").createNewFile())
    assert(lwwCols(dir).count() === 50L, "the empty marker is not a committed version")
    // the restarted apply commits above the dead marker
    Merge.lwwUpsertParquetBucketed(spark, dir,
      Seq((999L, "z", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 8)
    assert(VersionedTable.currentVersion(spark, dir) === Some(3L))
    val keys = lwwCols(dir).select("k").as[Long].collect().toSet
    assert(keys === (1L to 50L).toSet + 999L, "every committed key must survive")
  }
}
