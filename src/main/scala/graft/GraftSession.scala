package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration. Used by
  * Verify/Bench/tests; on a real cluster the same settings apply (minus
  * `master`).
  */
object GraftSession {
  /** Configs that must be present on any session running this engine. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
    // read as long and convert (Corpus.events truncates to micros, matching
    // DuckDB's nanos→micros truncation).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // AQE: runtime shuffle-partition coalescing + skew-join splitting —
    // the knobs that let one plan survive sf0.001 → 100 TB.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // ObjectHashAggregate (collect_list/collect_set paths) falls back to
    // sort-based aggregation after only 128 distinct keys per task —
    // sorting + possibly disk-spilling the whole partition. Shuffled aggs
    // here bound per-task key counts to keys/shufflePartitions, and a
    // collect_list group map at 128k keys is tens of MB, so keep the
    // hash path; the fallback still guards genuinely huge partitions.
    // CAVEAT: the setting is global, so it also raises the threshold for
    // the PARTIAL (map-side) aggregate, whose key count is bounded by the
    // scan split, not the shuffle — on a cluster, pair it with
    // files.maxPartitionBytes sizing, or set it per-query via
    // spark.conf.set around the collect_list stages if map-side splits
    // can carry >128k distinct keys of large objects.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 17).toString)
    // zstd over the snappy default: ~30% smaller parquet at comparable
    // write CPU — at 100 TB that's 30% less scan IO on every downstream
    // read, the dominant cost of the medallion fan-out. DuckDB/Arrow read
    // it natively, so oracle parity is unaffected.
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.ui.enabled", "false")

  /** The core count a main's local session runs on: `SPARK_GRAFT_CPUS`,
    * default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session whose managed tables live in a fresh temp
    * warehouse. Every session of the context shares that warehouse, so
    * it is deleted when the context's application ends, not at any
    * session's release. */
  def local(cores: Int, shufflePartitions: Int = 0): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh_")
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.warehouse.dir", warehouse.toString)
        .config("spark.sql.shuffle.partitions", sp.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installCacheBackstop(spark,
      () => graft.util.CacheRegistry.deleteRecursively(warehouse))
    spark
  }

  /** Session-close backstop for the engine's memoized/persisted frames
    * (ADVICE r14): a long-lived driver that never calls
    * `CacheRegistry.release` itself would otherwise keep its sessions'
    * tracked frames (e.g. triangleCounts' DISK_ONLY edge persist) and
    * memos pinned for the JVM lifetime after the context stops. At
    * application end this releases every session of a stopped context;
    * frames that can no longer be unpersisted post-stop are skipped,
    * and the registry still drops their sessions. Sessions built
    * directly from [[configure]] should call this once after
    * `getOrCreate()` (or call `CacheRegistry.release` on their own
    * schedule). `atEnd` runs after that release. */
  def installCacheBackstop(spark: SparkSession, atEnd: () => Unit = () => ()): Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
        graft.util.CacheRegistry.releaseStopped()
        atEnd()
      }
    })
}
