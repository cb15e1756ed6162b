package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import graft.io.{Merge, VersionedTable}

/** The one commit protocol: version publish is an atomic marker create
  * naming a manifest, so a concurrent reader must ALWAYS resolve a
  * complete committed snapshot, a read-modify-write commit on a stale
  * base must fail loudly, and vacuum must never delete a dir a kept
  * version lists. Crash states are laid out on disk: an orphan `d-*` dir
  * with no marker, or an empty marker. */
class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(tag: String): String =
    tempDir(s"graft_vt_${tag}_").toString + "/t"

  test("write/read round trip, version numbers increase") {
    val root = tmpRoot("rt")
    assert(VersionedTable.currentVersion(spark, root).isEmpty)
    assert(VersionedTable.vacuum(spark, root) === Seq.empty, "a root with no version yet")
    val v1 = VersionedTable.write(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    val v2 = VersionedTable.write(spark, root, Seq((1L, "a2")).toDF("k", "name"))
    assert(v1 === 1L && v2 === 2L)
    assert(VersionedTable.currentVersion(spark, root) === Some(2L))
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet === Set((1L, "a2")))
  }

  test("upsert publishes a new version with merge semantics") {
    val root = tmpRoot("up")
    VersionedTable.write(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    val (before, after, updated, inserted) = VersionedTable.upsert(
      spark, root, Seq((2L, "b2"), (9L, "z")).toDF("k", "name"), "k")
    assert((before, after, updated, inserted) === ((2L, 3L, 1L, 1L)))
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (9L, "z")))
    assert(VersionedTable.currentVersion(spark, root) === Some(2L))
  }

  test("concurrent reader always sees a complete committed snapshot during swaps") {
    val root = tmpRoot("cc")
    def table(n: Int) = spark.range(n * 10L).toDF("k")
    VersionedTable.write(spark, root, table(1))
    val committed = (1 to 6).map(_ * 10L).toSet
    val failure = new AtomicReference[Throwable](null)
    val reads = new AtomicLong(0)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.get() == null) {
        try {
          val c = VersionedTable.read(spark, root).count()
          if (!committed.contains(c))
            failure.set(new AssertionError(s"read a non-committed snapshot: $c rows"))
          reads.incrementAndGet()
        } catch { case t: Throwable => failure.set(t) }
      }
    })
    reader.start()
    try (2 to 6).foreach(n => VersionedTable.write(spark, root, table(n)))
    finally { stop = true; reader.join(30000) }
    assert(failure.get() == null, s"reader failed mid-swap: ${failure.get()}")
    assert(reads.get() > 0, "reader must have actually read during the writes")
    assert(VersionedTable.read(spark, root).count() === 60L)
  }

  test("vacuum drops old versions, current stays readable") {
    val root = tmpRoot("vac")
    (1 to 4).foreach(n => VersionedTable.write(spark, root, spark.range(n.toLong).toDF("k")))
    val dropped = VersionedTable.vacuum(spark, root, keep = 2)
    assert(dropped === Seq(1L, 2L))
    assert(VersionedTable.read(spark, root).count() === 4L)
    assert(VersionedTable.currentVersion(spark, root) === Some(4L))
    // vacuumed snapshot dirs are gone from disk
    val dirs = new java.io.File(root).listFiles().count(_.getName.startsWith("d-"))
    assert(dirs === 2)
  }

  test("vacuum removes aged orphan snapshots but spares young uncommitted ones") {
    val root = tmpRoot("orph")
    (1 to 2).foreach(n => VersionedTable.write(spark, root, spark.range(n.toLong).toDF("k")))
    // simulate a writer that crashed between the snapshot write and the
    // marker commit: a d-* dir no marker references
    val orphan = new java.io.File(root, "d-deadbeef0000")
    spark.range(5L).toDF("k").write.parquet(orphan.toString)
    def dirNames = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("d-")).map(_.getName).toSet

    // young orphan (age < threshold): spared — could be an in-flight commit
    VersionedTable.vacuum(spark, root, keep = 2, orphanAgeMs = 3600000L)
    assert(dirNames.contains("d-deadbeef0000"))

    // aged orphan (threshold 0): swept; committed snapshots untouched
    VersionedTable.vacuum(spark, root, keep = 2, orphanAgeMs = 0L)
    assert(!dirNames.contains("d-deadbeef0000"), dirNames.toString)
    assert(dirNames.size === 2)
    assert(VersionedTable.read(spark, root).count() === 2L)
  }

  test("vacuum: a dead empty marker atop the log never evicts the newest committed version") {
    val root = tmpRoot("dead")
    (1 to 2).foreach(n => VersionedTable.write(spark, root, spark.range(n.toLong).toDF("k")))
    // dead writer: the NEWEST marker is permanently empty. Counting it
    // toward `keep` would push the newest committed version (v2) into
    // the doomed list and vacuum(keep=1) would delete the current
    // snapshot — the table would become unreadable (data loss).
    val log = new java.io.File(root, "_log")
    val deadMarker = new java.io.File(log, "000000003")
    assert(deadMarker.createNewFile())
    // Age the marker explicitly: the sweep uses strict `mtime < cutoff`
    // (deliberately conservative — a 0 ms-old empty marker could be a
    // commit in flight, so at orphanAgeMs = 0 and same-millisecond mtime
    // it is spared for one extra vacuum). Without this the test races the
    // clock: created and vacuumed within one millisecond, the marker is
    // not yet "aged" and the r17 flake reproduces.
    assert(deadMarker.setLastModified(System.currentTimeMillis() - 60000L))
    val dropped = VersionedTable.vacuum(spark, root, keep = 1, orphanAgeMs = 0L)
    assert(VersionedTable.read(spark, root).count() === 2L,
      "the newest committed version must survive")
    assert(dropped.contains(1L), "the older committed version is vacuumed")
    assert(dropped.contains(3L), "an AGED dead marker is swept")
    assert(!dropped.contains(2L), dropped.toString)
    // a YOUNG empty marker (possible commit in flight) is spared entirely
    assert(new java.io.File(log, "000000004").createNewFile())
    assert(VersionedTable.vacuum(spark, root, keep = 1) === Seq.empty)
    assert(VersionedTable.read(spark, root).count() === 2L)
    // and writers keep committing above the junk
    VersionedTable.write(spark, root, spark.range(9L).toDF("k"))
    assert(VersionedTable.read(spark, root).count() === 9L)
  }

  test("read skips a mid-commit (still empty) marker instead of reading the root") {
    val root = tmpRoot("midc")
    VersionedTable.write(spark, root, spark.range(3L).toDF("k"))
    // simulate the reader's view between the writer's marker create and
    // its content write: a newer marker file that is still EMPTY (this is
    // the microsecond window a concurrent reader can list)
    val empty = new java.io.File(new java.io.File(root, "_log"), "000000002")
    assert(empty.createNewFile(), s"fixture marker exists already: $empty")
    // the empty marker is "not committed yet": reads resolve v1, not the
    // root dir (which is what Path(root, "") used to produce)
    assert(VersionedTable.read(spark, root).count() === 3L)
    // a later real commit takes the NEXT number and becomes current
    VersionedTable.write(spark, root, spark.range(7L).toDF("k"))
    assert(VersionedTable.read(spark, root).count() === 7L)
    // vacuum with the dead empty marker in the doomed range must not
    // throw (no dir name to delete) and must leave the table readable
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.read(spark, root).count() === 7L)
  }

  test("vacuum: two markers naming the same dir never cost the kept version its data") {
    // tryCommit can retry at n+1 with the SAME materialized dir after an
    // IOException on marker write left marker n in place — the doomed
    // older marker must not delete the dir the kept marker points at
    val root = tmpRoot("shared")
    VersionedTable.write(spark, root, spark.range(3L).toDF("k"))
    VersionedTable.write(spark, root, spark.range(5L).toDF("k"))
    val logDir = new java.io.File(root, "_log")
    val m2 = new java.io.File(logDir, "000000002")
    val dir2 = new String(java.nio.file.Files.readAllBytes(m2.toPath), "UTF-8")
    java.nio.file.Files.write(new java.io.File(logDir, "000000003").toPath,
      dir2.getBytes("UTF-8"))
    assert(VersionedTable.read(spark, root).count() === 5L)
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.read(spark, root).count() === 5L,
      "the kept version's shared dir must survive the doomed duplicate marker")
  }

  test("two upserts on the same base version: the second fails loudly, the first's rows survive") {
    val root = tmpRoot("lost")
    VersionedTable.write(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    // upsert B takes base v1 and is held before it merges; upsert A
    // commits v2 in that window. B's commit at v1 + 1 must fail: a blind
    // retry at v3 would drop A's row without an error.
    val b = PausedWriter.race(Seq((3L, "c")).toDF("k", "name")) { u =>
      VersionedTable.upsert(spark, root, u, "k")
    } {
      VersionedTable.upsert(spark, root, Seq((2L, "b2")).toDF("k", "name"), "k")
    }
    assert(b.isFailure && b.failed.get.isInstanceOf[IllegalStateException], b.toString)
    assert(b.failed.get.getMessage.contains("concurrent commit"), b.failed.get.getMessage)
    assert(VersionedTable.currentVersion(spark, root) === Some(2L), "B committed nothing")
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2")))
    // B's staged snapshot was deleted with its failed commit
    assert(new java.io.File(root).listFiles().count(_.getName.startsWith("d-")) === 2)
  }

  test("a manifest longer than 256 bytes round-trips through its marker") {
    val root = tmpRoot("long")
    // 300 keys fill all 16 buckets: a 16-dir manifest plus its bucket count
    Merge.lwwUpsertParquetBucketed(spark, root,
      (1L to 300L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v"), "k", Seq("v"))
    val marker = new java.io.File(new java.io.File(root, "_log"), "000000001")
    assert(marker.length() > 256, s"fixture: marker is only ${marker.length()} bytes")
    val m = VersionedTable.base(spark, root).current.get
    assert(m.dirs.size === 16 && m.meta === Map("num_buckets" -> "16"), m.toString)
    assert(VersionedTable.read(spark, root).count() === 300L)
  }

  test("vacuum after bucketed applies keeps every dir a kept manifest lists") {
    val root = tmpRoot("vshared")
    Merge.lwwUpsertParquetBucketed(spark, root,
      (1L to 100L).map(k => (k, s"n$k", 1L)).toDF("k", "name", "v"), "k", Seq("v"),
      numBuckets = 4)
    // three one-key applies: each rewrites one bucket and reuses the rest
    (1 to 3).foreach { i =>
      Merge.lwwUpsertParquetBucketed(spark, root,
        Seq((i.toLong, s"v$i", 2L)).toDF("k", "name", "v"), "k", Seq("v"), numBuckets = 4)
    }
    val listed = (1 to 4).map { n =>
      val c = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(root, f"_log/$n%09d").toPath), "UTF-8")
      n -> "d-[0-9a-f-]+/_b=[0-9]+".r.findAllIn(c).toSet
    }.toMap
    assert(VersionedTable.vacuum(spark, root, keep = 2) === Seq(1L, 2L))
    val keptDirs = listed(3) ++ listed(4)
    keptDirs.foreach(d => assert(new java.io.File(root, d).isDirectory, s"kept dir $d is gone"))
    val retiredOnly = (listed(1) ++ listed(2)) -- keptDirs
    assert(retiredOnly.nonEmpty, "fixture: the applies must have retired some dir")
    retiredOnly.foreach(d => assert(!new java.io.File(root, d).exists, s"retired dir $d survived"))
    assert(VersionedTable.read(spark, root).count() === 100L)
  }
}
