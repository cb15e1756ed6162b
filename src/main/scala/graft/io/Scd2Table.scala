package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SCD2 dimension driven by a STREAM of day-stamped snapshot
  * rows — the streaming half of the lakehouse CDC story ([[Merge]]'s
  * LWW upsert keeps the latest row per key; this keeps the full
  * attribute HISTORY via [[graft.gold.Scd2]]). Each apply groups the
  * arriving rows by their day column, applies each complete day's
  * snapshot in ascending order through the SAME batch `Scd2.apply`
  * (stream ≡ batch structurally, the p06/p15 discipline), and
  * publishes the rewritten dimension as one new version.
  *
  * Convergence contract: a day's snapshot must arrive whole within one
  * micro-batch (days are the unit of SCD2 time — a split day would
  * close keys that merely landed in the other half), but any GROUPING
  * of whole days into batches converges to the identical history, and
  * replays are no-ops: `Scd2.apply` of an already-applied (snapshot,
  * day) changes nothing (unchanged rows are kept by key+attr-hash,
  * nothing closes, nothing opens), and the last applied day (kept in
  * the version's manifest) additionally skips stale days outright, so an at-least-once source
  * replaying OLD epochs after newer ones cannot regress history —
  * StreamingSpec drives reordered/replayed schedules to the same
  * table. The contract is ENFORCED, not just documented: a skipped
  * stale day is verified to be a byte-replay of the history's
  * snapshot at that day, so a split day or an out-of-order NEW day
  * fails loudly instead of silently losing rows (see the stale-day
  * guard in [[applyDays]]).
  *
  * Each apply publishes the rewritten dimension as a new
  * [[VersionedTable]] version by a read-modify-write commit, with the
  * last applied day in the version's manifest — the day and the table
  * it describes land in one atomic step, so no crash can separate them.
  *
  * Scale shape: dimensions are dimension-sized, so whole-table
  * copy-on-write is the right plan here — unlike the fact-sized LWW
  * target that needed [[Merge.lwwUpsertParquetBucketed]]. A 100
  * TB-fact pipeline's dims are GBs; were a dimension ever fact-sized,
  * the same bucket layout applies (per-key version chains partition
  * cleanly by key hash). */
object Scd2Table {

  /** Manifest metadata key holding the last applied day. */
  private val LastDay = "last_day"

  /** Applies one micro-batch of day-stamped snapshot rows to the SCD2
    * dimension at `targetDir`. Returns the days actually applied (in
    * order) — empty when every day in the batch was stale or the batch
    * was empty. Crash-safe at every step: nothing is visible until the
    * commit, and a replayed epoch re-applies its days, which is a no-op
    * by SCD2 idempotence. */
  def applyDays(spark: SparkSession, targetDir: String, batch: DataFrame,
      key: String, attrs: Seq[String], dayCol: String): Seq[String] = {
    require(attrs.nonEmpty, "scd2 needs at least one tracked attribute")
    val base = VersionedTable.base(spark, targetDir)
    val lastApplied = base.current.flatMap(_.meta.get(LastDay))
    val b = batch.cache()
    try {
      // ≤ days-per-batch strings — the driver collect that tells the
      // apply which day slices exist without scanning the target
      val days = b.select(col(dayCol)).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val toApply = days.filter(d => lastApplied.forall(_ < d))
      // Stale-day guard: a day at or below lastApplied is only skippable
      // when it is a REPLAY — its rows must equal the snapshot the history
      // already encodes at that day. Anything else is one of the two
      // silent-corruption shapes the in-order/whole-day contract forbids:
      // a day SPLIT across micro-batches (the first half already closed
      // the keys the second half carries — swallowing the rest would
      // leave wrong history), or a genuinely NEW day delivered out of
      // order (its changes would vanish forever). Both now fail loudly.
      // Cost: runs only on the skip path (rare — at-least-once replays),
      // two set-difference counts per skipped day against a
      // dimension-sized table.
      val skippedStale = days.filterNot(toApply.toSet)
      if (skippedStale.nonEmpty && base.current.nonEmpty) {
        val hist = VersionedTable.read(spark, targetDir)
        skippedStale.foreach { d =>
          val snap = b.filter(col(dayCol) === d)
            .select((key +: attrs).map(col): _*).distinct()
          // the snapshot the history implies at day d: versions effective
          // at d ([effective_from, effective_to) contains d; open = null)
          val asAt = hist.filter(col("effective_from") <= d &&
              (col("effective_to").isNull || col("effective_to") > d))
            .select((key +: attrs).map(col): _*).distinct()
          val extra = snap.except(asAt).count()
          val missing = asAt.except(snap).count()
          if (extra != 0 || missing != 0)
            throw new IllegalStateException(
              s"scd2 stale-day guard: day $d is at or below the last applied day " +
                s"(${lastApplied.getOrElse("<none>")}) but is NOT a replay of the " +
                s"applied history ($extra row(s) unknown to the history, $missing " +
                "missing from the batch). Either the day was split across " +
                "micro-batches (each day's snapshot must arrive whole in one " +
                "batch) or a new day arrived out of order — refusing to " +
                "silently drop its rows.")
        }
      }
      if (toApply.nonEmpty) {
        var dim: DataFrame =
          if (base.current.nonEmpty) VersionedTable.read(spark, targetDir) else null
        toApply.zipWithIndex.foreach { case (d, i) =>
          val snap = b.filter(col(dayCol) === d)
            .select((key +: attrs).map(col): _*)
          dim =
            if (dim == null) graft.gold.Scd2.init(snap, key, attrs, d)
            else graft.gold.Scd2(dim, snap, key, attrs, d)
          // eager cut BETWEEN days: the apply chain is anti/semi-join-deep
          // (each apply references dim twice), so a multi-day batch would
          // otherwise stack lineage day over day. The LAST day is left
          // lazy (r19): its only consumer is the single snapshot write
          // below, so an eager checkpoint there was one whole extra
          // dimension-sized materialization job per micro-batch.
          if (i < toApply.size - 1) dim = dim.localCheckpoint()
        }
        val dir = VersionedTable.freshDir()
        dim.write.parquet(new org.apache.hadoop.fs.Path(targetDir, dir).toString)
        VersionedTable.commit(spark, targetDir, base,
          VersionedTable.Manifest(Seq(dir), Map(LastDay -> toApply.last)))
      }
      toApply
    } finally b.unpersist()
  }
}
