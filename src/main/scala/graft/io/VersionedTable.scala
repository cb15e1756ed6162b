package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-version parquet table: the one way every table in the engine is
  * published (the pipeline's silver, quarantine and gold, the MERGE
  * upsert, the streaming LWW and SCD2 sinks, compaction, the persisted
  * near-dup index), so a concurrent reader always finds a complete table.
  *
  * Layout under `root/`:
  * {{{
  *   _log/000000001   ← marker file, content = the version's manifest
  *   _log/000000002
  *   d-5f3a…/         ← immutable parquet snapshot dirs, unique names
  *   d-81c0…/_b=3/    ← (bucketed tables: one leaf dir per bucket)
  *   d-9e27…/bands/   ← (the near-dup index: two leaf dirs per label)
  * }}}
  *
  * A manifest is the version's data dirs (relative to `root`) plus small
  * metadata, e.g. a bucketed table's bucket count, an SCD2 dimension's
  * last applied day or the near-dup index's batch label → snapshot dir
  * map. A single dir with no metadata is stored as the bare dir name;
  * anything else as one JSON object, so a marker caught half-written
  * never parses as a smaller table.
  *
  * Commit protocol (the Delta/Iceberg idea reduced to its kernel):
  * a writer materializes NEW uniquely-named snapshot dirs, then
  * publishes them by creating the next numbered marker with
  * `create(overwrite = false)` — an atomic exclusive create on any
  * correct filesystem. Readers resolve the highest committed marker and
  * read the dirs it names. Nothing is ever renamed or deleted during a
  * commit. Two modes, chosen by the API:
  *   - blind overwrite ([[write]]): the new snapshot does not depend on
  *     the old one, so a writer that loses the marker race retries at
  *     n+1;
  *   - read-modify-write ([[base]] then [[commit]], used by [[upsert]],
  *     the LWW and SCD2 applies, compaction and the near-dup index's
  *     build, register and compact): the new manifest was computed from
  *     the version the writer read, so it commits only at that base + 1.
  *     If another writer got there first the commit fails loudly and
  *     publishes nothing — the single-writer contract, checked instead of
  *     assumed, so a lost update cannot happen silently.
  *
  * Old snapshots stay readable until [[vacuum]] — retention is what
  * bounds storage, exactly like table formats' VACUUM. */
object VersionedTable {

  private val LogDir = "_log"
  private val Json = new ObjectMapper()

  /** What one version publishes: data dirs relative to the table root
    * (a dir may be shared with other versions) and string metadata. */
  final case class Manifest(dirs: Seq[String], meta: Map[String, String] = Map.empty) {
    require(dirs.nonEmpty, "a manifest names at least one data dir")
  }

  /** A read-modify-write writer's starting point: the log head (highest
    * marker number, committed or not) and the newest committed manifest,
    * if any. Its commit goes at `head + 1`. */
  final case class Base(head: Long, current: Option[Manifest])

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markers(f: FileSystem, root: String): Seq[(Long, Path)] = {
    val log = new Path(root, LogDir)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).toSeq
      .flatMap(st => st.getPath.getName.toLongOption.map(_ -> st.getPath))
      .sortBy(_._1)
  }

  private def readMarker(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
    finally in.close()
  }

  private def render(m: Manifest): String =
    if (m.meta.isEmpty && m.dirs.size == 1) m.dirs.head
    else {
      val o = Json.createObjectNode()
      val dirs = o.putArray("dirs")
      m.dirs.foreach(d => dirs.add(d))
      val meta = o.putObject("meta")
      m.meta.toSeq.sorted.foreach { case (k, v) => meta.put(k, v) }
      Json.writeValueAsString(o)
    }

  /** None for an empty or half-written marker: a commit in flight (the
    * writer's create→write→close is not atomic) or a dead writer's. */
  private def parse(s: String): Option[Manifest] =
    if (s.isEmpty) None
    else if (!s.startsWith("{")) Some(Manifest(Seq(s)))
    else Try {
      val n = Json.readTree(s)
      Manifest(n.get("dirs").elements().asScala.map(_.asText).toSeq,
        n.get("meta").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
    }.toOption

  /** Committed = a complete manifest whose every dir exists. */
  private def committed(f: FileSystem, root: String, m: Option[Manifest]): Boolean =
    m.exists(_.dirs.forall(d => f.exists(new Path(root, d))))

  private def log(f: FileSystem, root: String): Seq[(Long, Path, Option[Manifest])] =
    markers(f, root).map { case (n, p) => (n, p, parse(readMarker(f, p))) }

  /** First path segment of a manifest dir: the `d-*` snapshot dir. */
  private def top(dir: String): String = dir.takeWhile(_ != '/')

  /** Highest version number in the log, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    markers(fs(spark, root), root).lastOption.map(_._1)

  /** A fresh snapshot dir name; a writer materializes its data under
    * `root/<name>` before it commits a manifest naming it. */
  private[graft] def freshDir(): String =
    s"d-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Writes `df` as a new immutable snapshot and publishes it atomically
    * (blind overwrite). Returns the committed version number. */
  def write(spark: SparkSession, root: String, df: DataFrame): Long = {
    val f = fs(spark, root)
    val dirName = freshDir()
    df.write.parquet(new Path(root, dirName).toString)
    f.mkdirs(new Path(root, LogDir))
    var n = markers(f, root).lastOption.map(_._1).getOrElse(0L) + 1
    while (!tryCommit(f, root, n, dirName)) n += 1
    n
  }

  private def tryCommit(f: FileSystem, root: String, n: Long, content: String): Boolean = {
    val marker = new Path(new Path(root, LogDir), f"$n%09d")
    try {
      // overwrite=false → atomic exclusive create: exactly one writer
      // wins a given version number
      val out = f.create(marker, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    } catch {
      // only a lost race (marker already there) is a conflict —
      // re-throwing genuine IO failures prevents an unbounded retry loop
      case e: java.io.IOException if f.exists(marker) => false
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** The starting point of a read-modify-write: take it BEFORE reading
    * the table, so that any commit landing after the read makes this
    * writer's [[commit]] fail instead of overwriting it. An uncommitted
    * marker above the newest committed version is a dead writer's (the
    * single-writer contract rules out a live one), so the head sits above
    * it and the next commit skips it. */
  private[graft] def base(spark: SparkSession, root: String): Base = {
    val f = fs(spark, root)
    val all = markers(f, root)
    Base(all.lastOption.map(_._1).getOrElse(0L),
      all.reverseIterator.map { case (_, p) => parse(readMarker(f, p)) }
        .find(m => committed(f, root, m)).flatten)
  }

  /** Read-modify-write commit of `manifest` at `base.head + 1`. If that
    * version exists another writer committed after `base` was taken: the
    * commit throws, publishes nothing and deletes the snapshot dirs this
    * writer staged (those `base` does not list). */
  private[graft] def commit(spark: SparkSession, root: String, base: Base, manifest: Manifest): Long = {
    val f = fs(spark, root)
    val n = base.head + 1
    f.mkdirs(new Path(root, LogDir))
    if (!tryCommit(f, root, n, render(manifest))) {
      val baseTops = base.current.toSeq.flatMap(_.dirs).map(top).toSet
      manifest.dirs.map(top).distinct.filterNot(baseTops)
        .foreach(d => f.delete(new Path(root, d), true))
      throw new IllegalStateException(
        s"concurrent commit under $root: version $n was committed after this writer " +
          s"read version ${base.head} — a second writer broke the single-writer " +
          "contract; nothing was committed")
    }
    n
  }

  /** Reads `dirs` of the table at `root` as one frame. The dirs are the
    * read's root paths, so no partition column is inferred above them. */
  private[graft] def load(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs.map(d => new Path(root, d).toString): _*)

  /** Reads the current committed snapshot. Always sees a complete table:
    * the marker it resolves names immutable, fully-written dirs.
    *
    * A marker whose content is still empty or half-written is a commit
    * in flight, not committed yet by definition; skip to the newest
    * marker with a complete manifest whose dirs all exist. */
  def read(spark: SparkSession, root: String): DataFrame =
    load(spark, root, base(spark, root).current.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root")).dirs)

  /** MERGE (see [[Merge.mergePlan]] for the key semantics), published as
    * a new version by a read-modify-write commit — concurrent readers
    * keep their snapshot, and a concurrent upsert that committed first
    * makes this one fail instead of losing its rows. Returns
    * (rowsBefore, rowsAfter, updatedKeys, insertedKeys). */
  def upsert(spark: SparkSession, root: String,
      updates: DataFrame, key: String): (Long, Long, Long, Long) = {
    val b = base(spark, root)
    val target = read(spark, root)
    val plan = Merge.mergePlan(target, updates, key)
    val dir = freshDir()
    val after = try {
      val n = LayerIO.countedWrite(plan.merged)(_.write.parquet(new Path(root, dir).toString))
      commit(spark, root, b, Manifest(Seq(dir)))
      n
    } finally plan.cached.unpersist()
    (plan.before, after, plan.matchedKeys, plan.updateKeys - plan.matchedKeys)
  }

  /** Drops all but the newest `keep` committed versions (marker first,
    * then every data dir no kept version lists). `keep ≥ 2` leaves the
    * previous snapshot alive for readers that resolved it just before a
    * commit. Also removes ORPHAN snapshot dirs — `d-*` dirs no surviving
    * marker references, left by a writer that crashed between the parquet
    * write and the marker commit — but only those older than
    * `orphanAgeMs` (default 1h), so an in-flight writer that has
    * materialized its snapshot but not yet committed its marker isn't
    * swept out from under it. Returns the deleted version numbers
    * (orphans have no version; they don't appear). */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
      orphanAgeMs: Long = 3600000L): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    val all = log(f, root)
    // Only COMMITTED versions count toward `keep`. read() can resolve
    // only those, so letting anything else occupy a keep slot would be a
    // data-loss bug: a dead writer's permanently-empty marker sitting at
    // the top of the log would push the newest READABLE version into the
    // doomed list and vacuum would delete the current snapshot.
    val kept = all.filter { case (_, _, m) => committed(f, root, m) }.takeRight(keep)
    val keptVersions = kept.map(_._1).toSet
    // Versions share dirs: a bucketed apply's manifest reuses its clean
    // buckets' dirs, and tryCommit can leave two markers naming the same
    // snapshot. A retired version deletes only what no kept version
    // lists — the whole snapshot dir when no kept dir lives under it,
    // else just its own leaf dirs.
    val keptDirs = kept.flatMap(_._3.get.dirs).toSet
    val keptTops = keptDirs.map(top)
    val deleted = all
      .filterNot { case (n, _, _) => keptVersions.contains(n) }
      .flatMap {
        case (n, marker, None) =>
          // an empty or half-written marker: a commit that never
          // finished. Almost always a dead writer, but a LIVE writer is
          // in this state for the microseconds between marker create and
          // content write — age-gate the delete (same bound as the orphan
          // sweep) so vacuum never clobbers a commit in flight. Strict `<`
          // is deliberate: a marker exactly cutoff-aged (e.g. created the
          // same millisecond as a vacuum(orphanAgeMs = 0)) is spared one
          // extra vacuum — conservative, never data-losing. There is no
          // dir name to delete; a dead writer's orphaned d-* dir falls
          // to the sweep below.
          val st = f.getFileStatus(marker)
          if (st.getModificationTime > 0 && st.getModificationTime < cutoff) {
            f.delete(marker, false)
            Some(n)
          } else None
        case (n, marker, Some(m)) =>
          f.delete(marker, false)
          m.dirs.filterNot(keptDirs).foreach { d =>
            f.delete(new Path(root, if (keptTops(top(d))) d else top(d)), true)
          }
          Some(n)
      }
    val live = log(f, root).flatMap(_._3.toSeq.flatMap(_.dirs)).map(top).toSet
    // a sink's first micro-batch can be empty: no commit, no root yet
    if (f.exists(new Path(root))) f.listStatus(new Path(root)).foreach { st =>
      val name = st.getPath.getName
      // mtime 0 means the store doesn't report directory times (object
      // stores synthesize dir listings) — age is unknowable there, so
      // never treat it as "old": deleting a freshly materialized
      // not-yet-committed snapshot would dangle its upcoming marker
      if (st.isDirectory && name.startsWith("d-") && !live.contains(name) &&
          st.getModificationTime > 0 && st.getModificationTime < cutoff)
        f.delete(st.getPath, true)
    }
    deleted
  }
}
