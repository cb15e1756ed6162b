package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the skewed (large) side into `factor`
  * sub-keys and replicate the small side across all salts, so one hot key
  * spreads over `factor` reducers instead of stalling a single task.
  *
  * AQE's skew-join split is the adaptive alternative, and where it fires
  * it works (measured, SURVEY §8.-8; the SkewAB harness is at commit
  * 1451c40: 2.29 s split vs 1.59 s salted on
  * the same fixture) — but its detector is denominated in COMPRESSED
  * SHUFFLE BYTES (`skewedPartitionThresholdInBytes`, 256 MB default,
  * required on top of the ×5-over-median test) while skew cost is
  * denominated in ROWS per task: a 7.5M-row hot partition of
  * lz4-friendly rows hid under even a 16 MB threshold and ran 4.7×
  * slower than salted (7.4–7.65 s vs 1.60 s, 10M rows, 74.7% on one
  * key). The rewrite additionally requires `forceOptimizeSkewedJoin`
  * when the join feeds a different-key aggregation, declines when
  * either leg carries an explicit repartition (REPARTITION_BY_NUM
  * origin), and applies to sort-merge joins only. The explicit salt is
  * unconditional: it works for hash joins, stream-side joins,
  * compressible hot keys, and known-ahead power-law keys — the 100 TB
  * cases where waiting on an adaptive rescue is a gamble.
  *
  * Salt is hash-derived from the row's own columns — deterministic, no
  * rand(), so retries/replays of a partition salt identically. The
  * replicated side grows ×factor: at dim sizes worth salting for this
  * is noise next to the hot reducer it removes. */
object Skew {

  /** Join types under which the salt is invisible: each LARGE-side row
    * carries exactly one salt, so inner/left/semi/anti results are
    * row-identical to the unsalted join (a large row's key is either
    * present in EVERY salt replica or in none). Right/full are refused
    * loudly — an unmatched SMALL-side row exists once per salt replica
    * and would surface `factor` times. */
  private val SaltSafeJoinTypes =
    Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "semi", "left_anti", "leftanti", "anti")

  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      factor: Int,
      saltSource: String,
      joinType: String = "inner"): DataFrame = {
    require(SaltSafeJoinTypes.contains(joinType.toLowerCase),
      s"saltedJoin: join type '$joinType' is not salt-invariant — an " +
        "unmatched small-side row would appear once per salt replica; " +
        "use inner/left/semi/anti, or salt the other side")
    val salted = large.withColumn("_salt",
      pmod(xxhash64(col(saltSource)), lit(factor.toLong)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }
}
