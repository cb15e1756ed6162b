package graft

import org.apache.spark.sql.functions._

import graft.io.{Maintenance, VersionedTable}
import graft.operators.Dedup

class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  /** Lays a committed version out on disk the way any writer leaves
    * it: a snapshot dir `write` fills, then marker 1 naming it. */
  private def committedTable(root: String)(write: String => Unit): Unit = {
    write(s"$root/d-000000000001")
    val log = new java.io.File(root, "_log")
    assert(log.mkdirs())
    java.nio.file.Files.write(new java.io.File(log, "000000001").toPath,
      "d-000000000001".getBytes("UTF-8"))
  }

  test("compaction collapses many small files and preserves every row") {
    val dir = tempDir("graft_compact_").toString + "/t"
    // 64 tiny files
    VersionedTable.write(spark, dir,
      spark.range(10000).select(col("id"), (col("id") % 7).as("k")).repartition(64))
    val beforeRows = VersionedTable.read(spark, dir).count()
    val (before, after) = Maintenance.compactParquet(spark, dir, targetFileBytes = 1L << 20)
    assert(before === 64)
    assert(after < 8, s"expected few files, got $after")
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L), "published as a new version")
    val compacted = VersionedTable.read(spark, dir)
    assert(compacted.count() === beforeRows)
    assert(compacted.agg(sum("id")).head().getLong(0) === (9999L * 10000L) / 2)
  }

  test("compaction of a partitioned table preserves layout and pruning") {
    val dir = tempDir("graft_compact_p_").toString + "/t"
    committedTable(dir) { snap =>
      spark.range(4000).select(col("id"), (col("id") % 3).cast("string").as("day"))
        .repartition(16).write.partitionBy("day").parquet(snap)
    }
    val (before, after) = Maintenance.compactParquet(spark, dir, targetFileBytes = 1L << 20)
    assert(before === 48 && after === 3, s"got ($before, $after)") // 16 files × 3 partitions → 1 each
    val back = VersionedTable.read(spark, dir)
    assert(back.count() === 4000)
    val pruned = back.filter(col("day") === "1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"partition layout must survive compaction:\n$plan")
  }

  test("compactParquet refuses a bucketed manifest (self-compacting)") {
    val dir = tempDir("graft_compact_b_").toString + "/t"
    graft.io.Merge.lwwUpsertParquetBucketed(spark, dir,
      (1L to 50L).map(kk => (kk, s"n$kk", 1L)).toDF("k", "name", "v"),
      "k", Seq("v"), numBuckets = 4)
    // each apply already rewrites its dirty buckets whole (one file per
    // bucket), so there is nothing to compact — and a rewrite would lose
    // the one-dir-per-bucket layout the apply reads by; it must refuse
    val thrown = intercept[IllegalArgumentException] {
      Maintenance.compactParquet(spark, dir)
    }
    assert(thrown.getMessage.contains("self-compacting"))
    // the table is untouched and still reads
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L))
    assert(VersionedTable.read(spark, dir).count() === 50L)
  }

  test("a compaction crashed before its marker leaves the prior version, and a re-run compacts") {
    val dir = tempDir("graft_compact_cr_").toString + "/t"
    VersionedTable.write(spark, dir, spark.range(1000).toDF("id").repartition(16))
    // the crash state: the compacted snapshot was written, its marker never was
    spark.range(1000).toDF("id").coalesce(1).write.parquet(s"$dir/d-0rphan000000")
    assert(VersionedTable.read(spark, dir).inputFiles.length === 16,
      "readers still see the uncompacted version")
    assert(Maintenance.compactParquet(spark, dir, targetFileBytes = 1L << 20) === ((16, 1)))
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
    assert(VersionedTable.read(spark, dir).agg(sum("id")).head().getLong(0) === 999L * 1000L / 2)
  }

  test("compactNearDupIndex folds batches into __base__ with probe results identical") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val corpus = Seq(
      (0L, base, "s1"),
      (1L, base, "s1"), // exact dup — deterministic banding, see below
      (2L, "one two three four five six seven eight nine ten", "s2"))
      .toDF("doc_id", "text", "source")
    val dir = tempDir("graft_nd_compact_").toString
    Dedup.buildNearDupIndex(corpus, dir)
    // exact copies: identical shingle sets match every band, so LSH
    // detection is deterministic (edited variants sit near the banding's
    // p≈0.5 regime and could legitimately miss)
    val day1 = Seq((10L, base, "d1")).toDF("doc_id", "text", "source")
    Dedup.registerInNearDupIndex(day1, dir, "day1")
    // the hard case: doc 10 registered under TWO labels (fresh-checkpoint
    // re-run) — compaction must fold the duplicate rows, not concatenate
    Dedup.registerInNearDupIndex(day1, dir, "day1-again")
    val day2 = Seq((20L, base, "d2")).toDF("doc_id", "text", "source")
    def probe() = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5)
    val before = probe().as[(Long, Long, Double)].collect().toSet
    assert(before.map(_._1) === Set(0L, 1L, 10L), s"fixture sanity: $before")

    assert(Dedup.compactNearDupIndex(spark, dir) === 2, "two labels folded")
    val afterDf = probe()
    assert(afterDf.as[(Long, Long, Double)].collect().toSet === before,
      "probe results (including jaccard against the double-registered doc) " +
        "must be identical after compaction")
    // the fold restores the single-label layout: cheap plain-count verify,
    // only __base__ in the manifest
    assert(!afterDf.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("count(distinct"),
      "compacted index must plan the plain-count verify")
    val m = VersionedTable.base(spark, dir).current.get
    assert(m.meta.keySet === Set(Dedup.BaseBatch), m.toString)
    assert(m.dirs.toSet === Set("bands", "shingles").map(t => s"${m.meta(Dedup.BaseBatch)}/$t"),
      m.toString)
    // idempotent: a second run is a no-op
    assert(Dedup.compactNearDupIndex(spark, dir) === 0)
    assert(probe().as[(Long, Long, Double)].collect().toSet === before)
    // and registration keeps working on the compacted index
    Dedup.registerInNearDupIndex(day2, dir, "day3")
    val day4 = Seq((30L, base, "d4")).toDF("doc_id", "text", "source")
    val laterHits = Dedup.nearDupsAgainstIndex(day4, dir, threshold = 0.9)
      .select("doc_a").as[Long].collect().toSet
    assert(laterHits.contains(20L), s"post-compaction registration findable: $laterHits")
  }

  test("a near-dup compaction with no marker leaves the old version; a re-run folds") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val corpus = Seq(
      (0L, base, "s1"),
      (2L, "one two three four five six seven eight nine ten", "s2"))
      .toDF("doc_id", "text", "source")
    val dir = tempDir("graft_nd_crash_").toString
    Dedup.buildNearDupIndex(corpus, dir)
    Dedup.registerInNearDupIndex(
      Seq((10L, base, "d1")).toDF("doc_id", "text", "source"), dir, "day1")
    val day2 = Seq((20L, base, "d2")).toDF("doc_id", "text", "source")
    def probe() = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val expected = probe()
    assert(expected.map(_._1) === Set(0L, 10L), s"fixture sanity: $expected")
    val prior = VersionedTable.base(spark, dir).current.get
    // the crash state: the fold's snapshot was written, its marker never
    // was (a clean compaction with its marker removed again)
    assert(Dedup.compactNearDupIndex(spark, dir) === 1)
    val v = VersionedTable.currentVersion(spark, dir).get
    val marker = new java.io.File(s"$dir/_log", f"$v%09d")
    assert(marker.delete())
    assert(VersionedTable.base(spark, dir).current.get === prior,
      "readers resolve the prior version")
    assert(Dedup.registeredBatchCount(spark, dir) === 1)
    assert(probe() === expected, "the prior version answers as before")
    assert(Dedup.compactNearDupIndex(spark, dir) === 1, "the re-run folds day1 again")
    assert(VersionedTable.currentVersion(spark, dir) === Some(v))
    assert(VersionedTable.base(spark, dir).current.get.meta.keySet === Set(Dedup.BaseBatch))
    assert(probe() === expected, "probe results unchanged after the re-run")
  }

  test("compactHashIndex folds epoch appends; dedup decisions identical") {
    import graft.streaming.StreamingManifest
    def doc(i: Int) =
      s"hash index compaction fixture document $i with enough body text " +
        s"to score and split deterministically $i"
    val idx = tempDir("graft_hc_").toString + "/hashes"
    val out1 = tempDir("graft_hm1_").toString + "/m"
    StreamingManifest.appendEpoch(
      Seq((1L, doc(1), "en"), (2L, doc(2), "en")).toDF("doc_id", "text", "lang"),
      idx, out1, epochId = 0L, run = "run-A")
    StreamingManifest.appendEpoch(
      Seq((3L, doc(3), "en"), (4L, doc(1), "en")).toDF("doc_id", "text", "lang"),
      idx, out1, epochId = 1L, run = "run-A")
    val (fBefore, fAfter) = StreamingManifest.compactHashIndex(spark, idx)
    assert(fBefore > fAfter && fAfter >= 1, s"($fBefore, $fAfter)")
    // a post-compaction epoch still sees every previously registered hash:
    // docs 10/11 dup epochs 0/1's content, 12 is fresh
    val e2 = Seq((10L, doc(1), "en"), (11L, doc(3), "en"), (12L, doc(12), "en"))
      .toDF("doc_id", "text", "lang")
    StreamingManifest.appendEpoch(e2, idx, out1, epochId = 2L, run = "run-A")
    val kept = spark.read.parquet(out1)
      .filter(col("_epoch") === 2L && col("dedup_keep"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L), s"compacted hashes must still block dups: $kept")
    // compacting again (single fold present + epoch-2 files) stays correct
    StreamingManifest.compactHashIndex(spark, idx)
    val hashes = spark.read.parquet(idx).select("text_hash").distinct().count()
    assert(hashes === 4L, "1,2,3,12 — one digest per unique document")
    // the replay-exclusion key survives compaction: a stream stopped
    // mid-epoch replays its final epoch after maintenance ran — it must
    // re-decide identically, not see its own prior registration
    StreamingManifest.appendEpoch(
      Seq((3L, doc(3), "en"), (4L, doc(1), "en")).toDF("doc_id", "text", "lang"),
      idx, out1, epochId = 1L, run = "run-A")
    val replayed = spark.read.parquet(out1).filter(col("_epoch") === 1L)
      .select("doc_id", "dedup_keep").as[(Long, Boolean)].collect()
    assert(replayed.filter(_._1 == 3L).forall(_._2) &&
      replayed.filter(_._1 == 4L).forall(!_._2),
      s"replayed epoch decisions must be unchanged: ${replayed.toSeq}")
  }
}
