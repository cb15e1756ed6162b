package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table maintenance: small-file compaction (the OPTIMIZE-style lakehouse
  * operation). Streaming sinks and per-day batch jobs accumulate many
  * small files; at 100 TB the scan-task overhead (one task per tiny
  * file, footer reads, scheduler pressure) dominates unless layouts are
  * periodically rewritten into target-sized files.
  *
  * Delta/Iceberg would provide this as `OPTIMIZE`; on a
  * [[VersionedTable]] it is a read → repartition-to-size → new version.
  */
object Maintenance {

  /** Rewrites the current snapshot of the [[VersionedTable]] at `dir`
    * into ~targetFileBytes files and publishes them as a new version by
    * a read-modify-write commit. Returns (filesBefore, filesAfter); an
    * already-compact snapshot is left as it is. A partitioned snapshot
    * keeps its partition columns, layout and pruning: the rewrite is a
    * range repartition on the partition columns (then a row hash), so a
    * value larger than the target spans several files and small values
    * share a task but still get one file each. */
  def compactParquet(spark: SparkSession, dir: String, targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val base = VersionedTable.base(spark, dir)
    val m = base.current.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $dir"))
    // Bucketed LWW targets ([[Merge.lwwUpsertParquetBucketed]]) are
    // SELF-compacting — every apply replaces each dirty bucket dir
    // whole with one freshly-written file — and a rewrite here would
    // lose the one-dir-per-bucket layout the apply reads by.
    require(!m.meta.contains(Merge.BucketsKey),
      s"$dir is a bucketed LWW target — it is self-compacting (each apply " +
        "rewrites its dirty buckets whole); nothing to do here")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (file, its snapshot dir) for every parquet file of `dirs`
    def files(dirs: Seq[String]) = dirs.flatMap { d =>
      val snap = fs.makeQualified(new Path(dir, d))
      val it = fs.listFiles(snap, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).map(_ -> snap).toSeq
    }
    val before = files(m.dirs)
    val leaves = before.map(_._1.getPath.getParent).distinct.size
    val nFiles = math.max(1,
      math.ceil(before.map(_._1.getLen).sum.toDouble / targetFileBytes).toInt)
    if (before.size <= math.max(nFiles, leaves)) return (before.size, before.size)
    // partition columns: the `k=v` dirs between a snapshot dir and its files
    val partCols = before.headOption.toSeq.flatMap { case (st, snap) =>
      Iterator.iterate(st.getPath.getParent)(_.getParent).takeWhile(p => p != null && p != snap)
        .map(_.getName.takeWhile(_ != '=')).toSeq.reverse
    }
    val cur = VersionedTable.read(spark, dir)
    val out = VersionedTable.freshDir()
    cur.repartitionByRange(nFiles,
        (partCols.map(col) :+ xxhash64(cur.columns.map(col): _*)): _*)
      .write.partitionBy(partCols: _*).parquet(new Path(dir, out).toString)
    VersionedTable.commit(spark, dir, base, VersionedTable.Manifest(Seq(out)))
    (before.size, files(Seq(out)).size)
  }
}
