package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert (MERGE) and CDC apply on [[VersionedTable]]s — the
  * Delta/Iceberg `MERGE INTO` capability on plain parquet. Every rewrite
  * is copy-on-write and published by a read-modify-write commit, so
  * readers never see a missing or half-written table.
  */
object Merge {

  /** The merged frame plus its key-level counts; `cached` is the
    * updates-side cache to release once `merged` has been written. */
  private[io] final case class MergePlan(
      merged: DataFrame, cached: DataFrame,
      before: Long, matchedKeys: Long, updateKeys: Long)

  /** Builds the MERGE frame of [[VersionedTable.upsert]].
    *
    * Key semantics: ALL target rows carrying an updated key are replaced
    * by ALL update rows with that key (grain of `updates` is preserved,
    * so a multi-row update key lands multi-row). Counts are key-level —
    * well-defined even when either side is non-unique on the key. */
  private[io] def mergePlan(target: DataFrame, updates: DataFrame, key: String): MergePlan = {
    require(target.columns.sameElements(updates.columns) ||
      target.columns.toSet == updates.columns.toSet,
      s"schema mismatch: ${target.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    val u = updates.select(target.columns.map(col): _*).cache()
    val updateKeys = u.select(col(key)).distinct()
    val nUpdateKeys = updateKeys.count()
    val matchedKeys = target.select(col(key)).distinct()
      .join(updateKeys, Seq(key), "left_semi").count()
    val merged = target.join(u.select(col(key).as("_uk")), col(key) === col("_uk"), "left_anti")
      .unionByName(u)
    MergePlan(merged, u, target.count(), matchedKeys, nUpdateKeys)
  }

  /** Last-writer-wins (the CDC-apply flavor of `MERGE INTO ... WHEN
    * MATCHED AND source.ts > target.ts`), as a pure frame function: per
    * key, the single row of `df` winning the `ordCols` ordering. Applied
    * to target ∪ updates, replaying stale changes can never regress a
    * newer row and applying the same batch twice is a no-op. `ordCols`
    * must totally order rows within a key (end with a unique column,
    * e.g. the event id); that's also what makes the final state
    * independent of HOW changes were batched: per-key argmax is
    * associative and commutative, so any batching of the same change
    * set converges to the same table — the property the p15
    * stream≡batch gate checks. One shuffle on the key. */
  def lww(df: DataFrame, key: String, ordCols: Seq[String]): DataFrame = {
    require(ordCols.nonEmpty, "lww merge needs at least one ordering column")
    val w = Window.partitionBy(col(key)).orderBy(ordCols.map(col(_).desc): _*)
    df.withColumn("_lww_rn", row_number().over(w))
      .filter(col("_lww_rn") === 1).drop("_lww_rn")
  }

  /** Manifest metadata key holding a bucketed table's bucket count. */
  private[io] val BucketsKey = "num_buckets"

  /** Leaf dir column of a bucket's files: `_bucket` itself stays in the
    * files as a data column, and each leaf is read as a root path (no
    * partition inference), so leaves of different snapshot dirs read
    * together. */
  private val BucketDir = "_b"

  private def bucketOf(dir: String): Int = dir.substring(dir.lastIndexOf('=') + 1).toInt

  /** Writes `df` under a fresh snapshot dir, one leaf dir per `_bucket`
    * value (`nTasks` write tasks), and returns bucket → dir. */
  private def stageBuckets(spark: SparkSession, root: String, df: DataFrame,
      nTasks: Int): Map[Int, String] = {
    val dir = VersionedTable.freshDir()
    val path = new org.apache.hadoop.fs.Path(root, dir)
    df.withColumn(BucketDir, col("_bucket")).repartition(nTasks, col("_bucket"))
      .write.partitionBy(BucketDir).parquet(path.toString)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path)
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketDir="))
      .map(n => bucketOf(n) -> s"$dir/$n").toMap
  }

  private def bucketManifest(dirs: Map[Int, String], numBuckets: Int) =
    VersionedTable.Manifest(dirs.toSeq.sortBy(_._1).map(_._2),
      Map(BucketsKey -> numBuckets.toString))

  /** The rows of `dirty` buckets in the table version `m`: reads only
    * those buckets' dirs (one clean dir for the schema when none of them
    * exists yet, its rows filtered away). */
  private[graft] def scopedTarget(spark: SparkSession, root: String,
      m: VersionedTable.Manifest, dirty: Seq[Int]): DataFrame = {
    val dirs = m.dirs.filter(d => dirty.contains(bucketOf(d)))
    VersionedTable.load(spark, root, if (dirs.nonEmpty) dirs else m.dirs.take(1))
      .filter(col("_bucket").isin(dirty.map(Int.box): _*))
  }

  /** Scale-safe LWW CDC apply ([[lww]]) into the [[VersionedTable]] at
    * `targetDir`: the table is laid out as `numBuckets` hash buckets of
    * the key (`_bucket = pmod(xxhash64(key), n)`, one leaf dir per
    * bucket, the bucket count in the manifest), and each apply reads,
    * merges and rewrites ONLY the buckets containing updated keys, then
    * commits a manifest that reuses the clean buckets' dirs unchanged —
    * per-apply cost is O(dirty buckets) ≈ O(batch), not O(target), which
    * is what lets a long-running CDC stream apply small batches against
    * a 100 TB table. A key hashes to exactly one bucket, so per-bucket
    * merges see every row of their keys and replays and re-batchings
    * converge identically.
    *
    * Crash safety is the commit protocol's: nothing is visible until the
    * marker lands, and re-applying an interrupted batch is a no-op by
    * LWW idempotence. Single-writer: the commit is read-modify-write, so
    * an apply that lost a race to another writer fails loudly and
    * commits nothing. An apply against a table whose manifest carries no
    * or another bucket count fails loudly too — applying with a guessed
    * count would scatter keys across two incompatible layouts where half
    * the probes silently miss — and that guard fires before the
    * empty-batch early return: a broken layout stops the stream whatever
    * batch exposes it.
    *
    * Readers see `_bucket` as the trailing column — `SELECT`s should
    * name their columns. Returns the dirty bucket ids.
    *
    * File lifecycle: each apply replaces every dirty bucket dir whole
    * with one freshly-written file, so the table is self-compacting
    * ([[Maintenance.compactParquet]] refuses it). Callers bound storage
    * with [[VersionedTable.vacuum]].
    *
    * The bootstrap evaluates `updates` twice — an `isEmpty` probe (stops
    * at the first row) plus the lww+write job — instead of caching it;
    * callers whose update plan is expensive to even START should cache
    * upstream, but the streaming sinks here feed file-source
    * micro-batches where the probe is a cheap scan. */
  def lwwUpsertParquetBucketed(spark: SparkSession, targetDir: String,
      updates: DataFrame, key: String, ordCols: Seq[String],
      numBuckets: Int = 16): Seq[Int] = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val base = VersionedTable.base(spark, targetDir)
    val u = updates
      .withColumn("_bucket",
        pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int"))
    base.current match {
      case None =>
        // bootstrap: the batch is consumed exactly once (the lww+write
        // job); the dirty set is the written layout (one dir LIST)
        if (updates.isEmpty) return Seq.empty
        val written = stageBuckets(spark, targetDir, lww(u, key, ordCols), numBuckets)
        VersionedTable.commit(spark, targetDir, base, bucketManifest(written, numBuckets))
        written.keys.toSeq.sorted
      case Some(m) =>
        val n = m.meta.getOrElse(BucketsKey, throw new IllegalStateException(
          s"table at $targetDir has no bucket count in its manifest — it was not " +
            "written by a bucketed apply; refusing to apply with an unverified " +
            "bucket layout")).toInt
        require(n == numBuckets,
          s"bucket-count mismatch: table at $targetDir has $n buckets, apply used $numBuckets")
        // the apply consumes the batch twice (dirty pre-scan + the merge)
        // — cache it for the pair; the pre-scan is what lets the apply
        // know which buckets to read without scanning any
        val uc = u.cache()
        try {
          // ≤ numBuckets small ints — the one driver collect
          val dirty = uc.select(col("_bucket")).distinct()
            .collect().map(_.getInt(0)).sorted.toSeq
          if (dirty.nonEmpty) {
            val target = scopedTarget(spark, targetDir, m, dirty)
            require(target.columns.toSet == uc.columns.toSet,
              s"schema mismatch: ${target.columns.mkString(",")} vs ${uc.columns.mkString(",")}")
            val merged = lww(target.unionByName(uc.select(target.columns.map(col): _*)),
              key, ordCols)
            val clean = m.dirs.map(d => bucketOf(d) -> d).toMap -- dirty
            VersionedTable.commit(spark, targetDir, base, bucketManifest(
              clean ++ stageBuckets(spark, targetDir, merged, dirty.size), n))
          }
          dirty
        } finally uc.unpersist()
    }
  }
}
