package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Sampling

/** The terminal step of the training-data pipeline: materialize the
  * corpus a training run actually reads. Composes the verified pieces —
  * the t25 manifest decides WHICH documents (`selected` = dedup-keep ∧
  * quality-keep ∧ train split), [[Sampling.trainingOrder]] decides WHERE
  * (shard) and IN WHAT ORDER (pos, seed-keyed, reproducible) — and
  * writes one parquet directory partitioned by shard, rows sorted by
  * position within each shard's files.
  *
  * Scale: selection is the manifest's one scan + tiny window; ordering
  * is one hash shuffle into shards + per-shard sort (each task sorts
  * corpus/nShards rows — size nShards to executors, which is also the
  * loader's read parallelism); the write is partition-pruned for
  * shard-parallel readers. The explicit `pos` column makes training
  * order recoverable regardless of file enumeration order.
  */
object TrainingExport {

  /** Writes the selected corpus under `dir`, replacing all of it (an
    * earlier export's shards go too, whatever its `nShards`), and returns
    * the read-back frame — evidence of what landed on disk, not intent.
    * Columns: doc_id, text, lang, n_tokens, pos, global_pos, shard
    * (partition column).
    *
    * The returned frame reads `dir` lazily, so it is invalidated by a
    * LATER export to the same dir (the overwrite deletes the files it
    * references) — materialize it first, or publish each corpus version
    * through [[VersionedTable]] when concurrent readers need a stable
    * snapshot. */
  def exportTrainingCorpus(docs: DataFrame, dir: String,
      seed: String = "train-v1", nShards: Int = 8): DataFrame = {
    val selected = graft.queries.Text.batchManifest(docs)
      .filter(col("selected")).select("doc_id")
    val body = docs.join(selected, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
    Sampling.trainingOrder(body, "doc_id", seed, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    docs.sparkSession.read.parquet(dir)
  }
}
