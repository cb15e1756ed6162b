package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous form of the t25 training-corpus manifest
  * ([[graft.queries.Text.batchManifest]]): every micro-batch of arriving
  * documents is judged by the full preprocessing gauntlet — quality score,
  * repetition filter, deterministic train/val/test split, exact-dedup
  * keep-one — and appended to a manifest table, so a daily document drop
  * extends the corpus manifest without re-reading the corpus.
  *
  * The per-row signals (quality, repetition, split, content hash) are
  * scan-computed per epoch through the SAME code path as batch t25
  * ([[graft.queries.Text.manifestSignals]]). Only `dedup_keep` needs
  * cross-epoch state: a persisted text-hash index under `hashIndexDir`
  * (the exact-dedup analog of [[graft.operators.Dedup.buildNearDupIndex]]).
  * A row keeps iff its content hash is first within the batch AND absent
  * from every PREVIOUSLY COMMITTED index row — so per-epoch cost scales
  * with the batch plus one equi-join against the (hash, run, epoch) index,
  * whose rows are 16-byte digests, one per unique document ever seen,
  * never the documents themselves. On a cluster, bucket the index by
  * `text_hash` so the daily probe is a co-located join; at this corpus's
  * sizes AQE broadcasts it.
  *
  * Index rows are keyed by a RUN id in addition to the epoch id. Epoch
  * ids are Structured Streaming batch ids, which restart from 0 whenever
  * the query starts with a fresh checkpoint — filtering on the epoch
  * alone would then exclude all prior history and silently disable
  * cross-run dedup. The run id is a UUID persisted as a marker file
  * inside the query's checkpoint directory ([[runKey]]), so its lifetime
  * is exactly the checkpoint's: a restart from the same checkpoint (the
  * replay case) reuses the run id, while a fresh checkpoint gets a fresh
  * one and therefore sees ALL previously registered hashes. The probe
  * excludes only rows written by the CURRENT run's CURRENT epoch, which
  * keeps replay stable: an epoch that crashed after writing its own
  * hashes re-decides `dedup_keep` identically on retry. Multiple queries
  * may share one `hashIndexDir` (distinct checkpoints → distinct run
  * ids); each sees the others' committed epochs.
  *
  * At-least-once like [[StreamingDedup.nearDupAuditSink]]: a replayed
  * epoch re-appends manifest rows (dedup downstream on `_epoch`+doc_id),
  * but its FLAGS are replay-stable per the rule above.
  *
  * Stream≡batch: when epochs partition the corpus in doc_id order (the
  * natural arrival order of an append-only corpus), the epoch union is
  * row-identical to [[graft.queries.Text.batchManifest]] on the same
  * documents — asserted in StreamingSpec. Under out-of-order arrival the
  * keep rule degrades to first-SEEN-wins, the standard incremental-dedup
  * semantics.
  */
object StreamingManifest {

  private val indexSchema = StructType(Seq(
    StructField("text_hash", StringType),
    StructField("_epoch", LongType),
    StructField("_run", StringType)))

  /** Sink appending one manifest row per arriving document (t25 columns
    * plus `_epoch`) under `outDir`, maintaining the text-hash index under
    * `hashIndexDir`. `docs` is a streaming frame with doc_id/text/lang.
    * `checkpointDir` is set on the writer here (not by the caller) because
    * the dedup run id lives inside it — see the object doc.
    *
    * When `compactEveryFiles > 0`, the sink bounds its own index: any
    * epoch that finds at least that many data files under `hashIndexDir`
    * runs [[compactHashIndex]] before appending. This compaction is
    * crash-safe at ANY boundary (append-then-delete; the probe's
    * `distinct()` absorbs duplicate rows), and unlike the near-dup
    * index's fold it never collapses the `(text_hash, _epoch, _run)`
    * key, so no epoch needs to be excluded from it — dedup decisions are
    * provably unchanged mid-stream. `0` disables the trigger for manual
    * between-stop maintenance. */
  def manifestSink(docs: DataFrame, hashIndexDir: String, outDir: String,
      checkpointDir: String, compactEveryFiles: Int = 0): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        if (compactEveryFiles > 0 &&
            parquetFileCount(spark, hashIndexDir) >= compactEveryFiles)
          compactHashIndex(spark, hashIndexDir)
        appendEpoch(batch, hashIndexDir, outDir, epochId,
          runKey(spark, checkpointDir))
      }

  /** One epoch: flag the batch against previously committed hashes,
    * append its manifest rows, then register its newly-kept hashes. */
  private[graft] def appendEpoch(batch: DataFrame, hashIndexDir: String,
      outDir: String, epochId: Long, run: String): Unit = {
    val w = Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))
    val flagged = graft.queries.Text.manifestSignals(batch)
      .withColumn("first_in_batch", row_number().over(w) === 1)
      .join(seenHashes(batch.sparkSession, hashIndexDir, epochId, run),
        Seq("text_hash"), "left_outer")
      .withColumn("dedup_keep", col("first_in_batch") && col("_seen").isNull)
      .persist() // two writes below; don't re-scan + re-join per write
    try {
      graft.queries.Text.manifestColumns(flagged)
        .withColumn("_epoch", lit(epochId))
        .write.mode("append").parquet(outDir)
      flagged.filter(col("dedup_keep"))
        .select(col("text_hash")).withColumn("_epoch", lit(epochId))
        .withColumn("_run", lit(run))
        .write.mode("append").parquet(hashIndexDir)
    } finally flagged.unpersist()
  }

  /** Hashes registered by any epoch other than the CURRENT run's CURRENT
    * one (replay stability + fresh-checkpoint survival — see the object
    * doc). The explicit schema makes an existing-but-empty index dir (a
    * crash that left only _SUCCESS, or an epoch whose keep-set was empty)
    * read as an empty frame instead of a schema-inference failure. */
  private def seenHashes(spark: SparkSession, dir: String,
      epochId: Long, run: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior =
      if (fs.exists(p))
        spark.read.schema(indexSchema).parquet(dir)
          .filter(!(col("_run") === run && col("_epoch") === epochId))
          .select(col("text_hash")).distinct()
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], indexSchema)
          .select(col("text_hash"))
    prior.withColumn("_seen", lit(true))
  }

  /** Folds the hash index's per-epoch appends into one compact
    * distinct-hash generation — the maintenance op bounding a long-lived
    * manifest stream's file count (every epoch appends a few small files
    * forever; at 100 TB of corpus the index is still just one 16-byte
    * digest per unique document, but millions of tiny files would
    * dominate probe cost). The fold DISTINCTs whole rows — `(text_hash,
    * _epoch, _run)` — never collapsing the run/epoch key:
    * [[appendEpoch]]'s replay exclusion (ignore hashes from my own
    * (run, epoch)) must keep working after compaction, because a stream
    * stopped mid-epoch replays its final epoch on restart and that
    * replay is indistinguishable from a maintenance window to the
    * operator. Row count stays bounded regardless: one row per
    * registration event, and a hash registers at most once per run.
    *
    * Crash-safe by append-then-delete: the fold is APPENDED before the
    * superseded files are dropped, so every window leaves at worst
    * duplicate rows, which the probe's `distinct()` already absorbs —
    * rows are never lost, and decisions are replay-stable across a
    * compaction at ANY boundary. Returns (filesBefore, filesAfter). */
  def compactHashIndex(spark: SparkSession, dir: String): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0)
    def dataFiles() = listDataFiles(fs, p)
    val before = dataFiles()
    if (before.size <= 1) return (before.size, before.size)
    val tmp = dir.stripSuffix("/") + "_compacting"
    spark.read.schema(indexSchema).parquet(dir)
      .distinct()
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("append").parquet(dir)
    before.foreach(f => fs.delete(f.getPath, false))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    (before.size, dataFiles().size)
  }

  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path) = fs.listStatus(p).toSeq
    .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Data-file count under the hash index — the maintenance trigger's
    * threshold input ([[manifestSink]]). One fs listing, no Spark job. */
  private def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) listDataFiles(fs, p).size else 0
  }

  /** The run id marker under `checkpointDir`: created exclusively on
    * first use, re-read on every later start of the same checkpoint. */
  private[graft] def runKey(spark: SparkSession, checkpointDir: String): String = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir, "graft-run-id")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readMarker(): String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    if (fs.exists(marker)) readMarker()
    else {
      val fresh = java.util.UUID.randomUUID().toString
      try {
        val out = fs.create(marker, false) // exclusive: lose the race → reread
        try out.write(fresh.getBytes("UTF-8")) finally out.close()
        fresh
      } catch {
        case _: java.io.IOException if fs.exists(marker) => readMarker()
      }
    }
  }
}
