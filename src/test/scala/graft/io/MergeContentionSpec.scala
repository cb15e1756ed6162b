package graft.io

/** Pins the single-writer contract of every read-modify-write writer
  * ([[VersionedTable]] scaladoc): a writer whose base version is stale —
  * another writer committed after it read — must fail LOUDLY at its
  * marker create and commit nothing, never publish a table computed from
  * a stale view. Also the bucketed apply's crash states, laid out on
  * disk: a snapshot staged without a marker. Lives in package graft.io
  * for access to the private[io] commit primitives. */
class MergeContentionSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String) =
    tempDir(s"graft_race_${tag}_").toString + "/t"

  private def snapshotDirs(dir: String) =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("d-")).toSet

  test("a commit on a stale base loses the marker race loudly and commits nothing") {
    val dir = tmp("rmw")
    VersionedTable.write(spark, dir, Seq((1L, "a")).toDF("k", "name"))
    val base = VersionedTable.base(spark, dir)
    // writer A stages its rewrite against v1 ...
    val staged = VersionedTable.freshDir()
    Seq((2L, "b")).toDF("k", "name").write.parquet(s"$dir/$staged")
    // ... while writer B commits v2
    VersionedTable.write(spark, dir, Seq((3L, "c")).toDF("k", "name"))
    val thrown = intercept[IllegalStateException] {
      VersionedTable.commit(spark, dir, base, VersionedTable.Manifest(Seq(staged)))
    }
    assert(thrown.getMessage.contains("concurrent commit"), thrown.getMessage)
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L),
      "the losing writer must not have committed anything")
    assert(!snapshotDirs(dir).contains(staged), "the loser's staged snapshot is deleted")
    // B's table is intact
    assert(VersionedTable.read(spark, dir).select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("bucketed apply from a stale base fails loudly and commits nothing") {
    val dir = tmp("b")
    val base = (1L to 50L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v")
    Merge.lwwUpsertParquetBucketed(spark, dir, base, "k", Seq("v"), numBuckets = 4)
    val dirsBefore = VersionedTable.base(spark, dir).current.get.dirs.toSet
    // apply B takes base v1 and is held before its dirty pre-scan;
    // apply A commits v2 in that window
    val b = graft.PausedWriter.race(Seq((998L, "y", 1L)).toDF("k", "name", "v")) { u =>
      Merge.lwwUpsertParquetBucketed(spark, dir, u, "k", Seq("v"), numBuckets = 4)
    } {
      Merge.lwwUpsertParquetBucketed(spark, dir,
        Seq((999L, "z", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    }
    assert(b.isFailure && b.failed.get.getMessage.contains("concurrent commit"), b.toString)
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
    val keys = VersionedTable.read(spark, dir).select("k").as[Long].collect().toSet
    assert(keys === (1L to 50L).toSet + 999L, "A's apply survives, B's rows are not in")
    // B deleted only its own staged dir: every dir v1 and v2 list is there
    (dirsBefore ++ VersionedTable.base(spark, dir).current.get.dirs).foreach { d =>
      assert(new java.io.File(dir, d).isDirectory, s"$d is gone")
    }
  }

  test("bucketed apply refuses a committed table whose manifest has no bucket count") {
    val dir = tmp("sf")
    // a table not written by a bucketed apply: an apply must fail loudly
    // rather than trust the caller's numBuckets — a mismatched count
    // would scatter keys across two incompatible layouts where half the
    // later probes silently miss
    VersionedTable.write(spark, dir,
      (1L to 50L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v"))
    val thrown = intercept[IllegalStateException] {
      Merge.lwwUpsertParquetBucketed(spark, dir,
        Seq((999L, "z", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    }
    assert(thrown.getMessage.contains("bucket count"), thrown.getMessage)
    // nothing was committed: the table still reads its original rows
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L))
    assert(VersionedTable.read(spark, dir).count() === 50L)
  }

  test("bootstrap crashed before its marker (orphan snapshot, no marker) heals on replay") {
    // the crash state: a bootstrap with 8 buckets wrote its snapshot and
    // died before creating marker 1. The replayed epoch must bootstrap
    // cleanly, and the layout guard must enforce the REPLAY's count.
    val dir = tmp("cw")
    Seq((1L, "n1", 1L, 5)).toDF("k", "name", "v", "_bucket")
      .write.parquet(s"$dir/d-0rphan000000/_b=5")
    Merge.lwwUpsertParquetBucketed(spark, dir,
      (1L to 20L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v"),
      "k", Seq("v"), numBuckets = 4)
    assert(VersionedTable.read(spark, dir).count() === 20L)
    intercept[IllegalArgumentException] {
      Merge.lwwUpsertParquetBucketed(spark, dir,
        Seq((999L, "z", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 8)
    }
    Merge.lwwUpsertParquetBucketed(spark, dir,
      Seq((999L, "z", 1L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    assert(VersionedTable.read(spark, dir).count() === 21L)
    // the orphan was never part of the table; an aged-orphan vacuum sweeps it
    VersionedTable.vacuum(spark, dir, keep = 1, orphanAgeMs = 0L)
    assert(!snapshotDirs(dir).contains("d-0rphan000000"))
    assert(VersionedTable.read(spark, dir).count() === 21L)
  }
}
