package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Dedup

/** Continuous form of the incremental dedup/contamination audit: every
  * micro-batch of arriving documents probes the persisted near-dup index
  * ([[graft.operators.Dedup.buildNearDupIndex]]) and appends its hits —
  * per-epoch cost scales with the batch, never the corpus (the index is
  * read only at its band/shingle join keys).
  *
  * foreachBatch, not a stream-stream join: each epoch is an independent
  * batch probe against an on-disk index — exactly the daily-audit
  * semantics, now at micro-batch latency. At-least-once like
  * [[SilverStream.appendSink]]: a replayed epoch re-appends, so
  * exactly-once consumers dedup downstream on (`_epoch`, doc_a, doc_b).
  * Intermediate caching is off ([[Dedup.nearDupsAgainstIndex]]'s
  * `cacheIntermediates=false`): the batch-side shingle explode is cheap
  * per epoch, and per-epoch persists would pile up for the stream's
  * lifetime.
  */
object StreamingDedup {

  /** Sink that writes (doc_a = indexed id, doc_b = new id, jaccard,
    * _epoch) parquet rows under `outDir` for every micro-batch of
    * `docs` (a streaming frame with doc_id/text columns). */
  def nearDupAuditSink(docs: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.8): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      // sorted=false: the append sink is order-free, so skip the probe's
      // trailing range-shuffle + sort per epoch
      Dedup.nearDupsAgainstIndex(batch, indexDir, threshold = threshold,
          cacheIntermediates = false, sorted = false)
        .withColumn("_epoch", lit(epochId))
        .write.mode("append").parquet(outDir)
    }

  /** The self-maintaining form of [[nearDupAuditSink]]: each micro-batch
    * first probes the persisted index, then REGISTERS itself into it
    * ([[Dedup.registerInNearDupIndex]]) — so epoch N+1's documents are
    * checked against every document the stream has ever seen, not just
    * the original corpus. This closes the incremental-dedup loop at
    * micro-batch latency: per-epoch cost is probe (scales with batch) +
    * register (scales with batch); the index is never rewritten.
    *
    * Replay stability: registrations are keyed `run-epoch` (the run id
    * is checkpoint-scoped, like [[StreamingManifest]]'s), so a replayed
    * epoch maps its own label to a fresh snapshot instead of adding a
    * second one, and the probe excludes exactly that label — a retry that
    * crashed after registering re-emits the same hits. In-batch
    * near-dup pairs are intentionally NOT emitted (same contract as
    * [[nearDupAuditSink]]: hits pair the batch against PRIOR documents);
    * run whole-corpus [[Dedup.minhashNearDups]] for intra-batch pairs.
    * `checkpointDir` is set on the writer here because the run id lives
    * inside it. The sink is the index's one writer while it runs: a
    * second writer's commit would make the sink's next commit fail.
    *
    * Maintenance: each epoch adds one small labelled snapshot to the
    * index, forever — so the sink bounds its OWN label count. When
    * `compactEvery > 0` and an epoch starts with at least that many
    * registered labels, the sink first runs [[Dedup.compactNearDupIndex]]
    * (probe results provably unchanged — MaintenanceSpec), keeping the
    * label count, file count and listing cost bounded for an unbounded
    * stream. The epoch START is the one point where the fold is always
    * safe: Structured Streaming commits epoch N before constructing N+1,
    * so every label in the manifest except the CURRENT epoch's belongs to
    * a committed epoch (or a prior run). The current label — present only
    * when this epoch is a replay whose register already ran — is passed
    * as a `keepBatches` so the replay's `excludeBatch` self-exclusion
    * keeps working. A compaction that crashed left the prior version
    * readable, so the next trigger simply compacts again. Manual
    * [[Dedup.compactNearDupIndex]] runs between clean stops remain valid
    * (`compactEvery = 0` disables the trigger). */
  def selfMaintainingDedupSink(docs: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String,
      threshold: Double = 0.8, compactEvery: Int = 0): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val run = StreamingManifest.runKey(spark, checkpointDir)
        val batchLabel = s"$run-$epochId"
        if (compactEvery > 0 && Dedup.registeredBatchCount(spark, indexDir) >= compactEvery)
          Dedup.compactNearDupIndex(spark, indexDir,
            keepBatches = Set(batchLabel))
        val b = batch.persist() // probed then signed again for registration
        try {
          Dedup.nearDupsAgainstIndex(b, indexDir, threshold = threshold,
              cacheIntermediates = false, sorted = false,
              excludeBatch = Some(batchLabel))
            .withColumn("_epoch", lit(epochId))
            .write.mode("append").parquet(outDir)
          Dedup.registerInNearDupIndex(b, indexDir, batchLabel)
        } finally b.unpersist()
      }
}
