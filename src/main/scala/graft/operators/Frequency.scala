package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions
import graft.functions.TextFunctions.tokens

/** Exact heavy hitters through a bounded sketch — the frequent-items
  * counterpart of q23's HLL distinct counts in the approximate-aggregate
  * family, but with EXACT output: the sketch only proposes, an exact
  * pass disposes (the LSH-then-verify discipline applied to frequency).
  */
object Frequency {

  /** Tokens with frequency share strictly above `1/(k+1)`, with exact
    * counts. Two corpus passes:
    *
    *  1. one aggregation computing the total token count AND a k-counter
    *     Misra-Gries candidate summary ([[graft.functions.MGSketch]] —
    *     map-side partials, only k-entry summaries cross the shuffle).
    *     The PODS'12 mergeable-summaries bound guarantees every true
    *     heavy hitter is among the ≤ k candidates regardless of
    *     partitioning;
    *  2. one exact count of the candidate tokens only (a broadcast-able
    *     `isin` over ≤ k strings reaches the scan as a pushed filter),
    *     thresholded by the EXACT rule `freq · (k+1) > n` in integer
    *     arithmetic.
    *
    * The candidate set may vary with merge order (it is a superset
    * guarantee); the verified output cannot — it equals the plain
    * `GROUP BY` answer at any partitioning, which is what the oracle
    * replays. At 100 TB the win is pass 2's filter: the full token
    * frequency table (domain-sized) is never materialized or shuffled —
    * only k counters and the ≤ k survivors move.
    *
    * Output: (token, freq, share), share = freq/n, (freq desc, token)
    * order. */
  def heavyHitters(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    GraftExpressions.register(docs.sparkSession)
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val row = toks
      .agg(count(lit(1)).as("n"), expr(s"graft_mg_sketch(token, $k)").as("cand"))
      .head()
    val n = row.getLong(0)
    val cand = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    toks
      .filter(col("token").isin(cand: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") * (k + 1) > n)
      .withColumn("share", col("freq").cast("double") / lit(n.toDouble))
      .orderBy(col("freq").desc, col("token"))
  }

  /** Count-Min point estimates for every distinct token (Cormode &
    * Muthukrishnan, J. Algorithms 2005) — the ESTIMATING sibling of
    * [[heavyHitters]]'s Misra-Gries candidates: one aggregation builds
    * the depth×width counter matrix ([[graft.functions.CMSketchWeighted]] —
    * fixed-size buffers map-side, one matrix per partition crosses the
    * shuffle, merges are element-wise adds, so the matrix is a pure
    * function of the token multiset at any partitioning), then each
    * distinct token reads `est = min over rows of its cell`.
    *
    * The estimate is deterministic data, not a tolerance: with the row
    * hashes on the portable fold, the oracle rebuilds every cell (a
    * GROUP BY over colliding tokens) and replays each min — `est ≥
    * freq` always, over by at most 2n/width with prob 1 − 2^−depth.
    * The exact `freq` column rides along for the overestimate audit;
    * at 100 TB the sketch is what a pipeline SHIPS (depth·width longs
    * summarize any domain) — the exact join here is the gate's
    * ground truth, not part of the serving shape.
    *
    * Output: (token, freq, est, overestimate), (freq desc, token)
    * order. */
  def cmsEstimates(docs: DataFrame, depth: Int, width: Int,
      textCol: String = "text"): DataFrame = {
    require(depth > 0, s"depth must be positive, got $depth")
    require(width > 1, s"width must exceed 1, got $width")
    GraftExpressions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val matrix = toks
      .agg(expr(s"graft_cms_sketch(token, $depth, $width)").as("m"))
      .head().getSeq[Long](0)
    val cells = spark.createDataset(
      matrix.zipWithIndex.map { case (c, i) => (i / width, i % width, c) })
      .toDF("row", "cell", "cnt")
    // per-token cell coordinates via the SAME fold the sketch hashed
    // with (one definition: CMSMatrix.cell ≡ this column arithmetic ≡
    // the oracle's foldSql mirror)
    val rows = (0 until depth).map(r =>
      struct(lit(r).as("row"),
        pmod(Sampling.portableFingerprint(
          concat(lit(s"cms:$r:"), col("token"))), lit(width)).as("cell")))
    toks
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .withColumn("rc", explode(array(rows: _*)))
      .select(col("token"), col("freq"),
        col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(broadcast(cells), Seq("row", "cell"))
      .groupBy(col("token"))
      .agg(min(col("freq")).as("freq"), min(col("cnt")).as("est"))
      .select(col("token"), col("freq"), col("est"),
        (col("est") - col("freq")).as("overestimate"))
      .orderBy(col("freq").desc, col("token"))
  }

  /** Join-size estimation from two Count-Min sketches (Cormode &
    * Muthukrishnan, J. Algorithms 2005 §4.2 — the sketch form of the
    * AGMS inner-product estimator): |A ⋈_k B| = Σ_v f_A(v)·f_B(v), and
    * the row-wise inner product of the two matrices min'd over rows
    * estimates it from above — the cardinality statistic a query
    * planner consults BEFORE choosing a join strategy, computed from
    * two fixed-size summaries instead of either table.
    *
    * Scale shape: each side is ONE raw scan into its exact per-key
    * frequency frame; the sketch matrix then folds from that frame
    * through the weighted aggregate ([[graft.functions.CMSketchWeighted]]
    * — map-side partials, element-wise merge; integer cell sums make
    * the fold bit-identical to sketching the raw stream), and the inner
    * products run on the two collected matrices — fixed-size, the
    * bounded-collect class. The exact ground truth (a key join of the
    * same two frequency frames) is computed alongside and gated WITH
    * the estimate, so the estimator's bias is data, not a claim.
    *
    * Output: one row per sketch row r — (row, inner = Σ_c A[r,c]·B[r,c],
    * true_size, est = min_r inner, overestimate = est − true_size ≥ 0
    * by construction), ordered by row. All exact integers. */
  def cmsJoinSize(a: DataFrame, b: DataFrame, key: org.apache.spark.sql.Column,
      depth: Int, width: Int): DataFrame = {
    require(depth > 0, s"depth must be positive, got $depth")
    require(width > 1, s"width must exceed 1, got $width")
    val spark = a.sparkSession
    GraftExpressions.register(spark)
    import spark.implicits._
    // ONE raw scan per side: the exact per-key frequency frame (needed
    // below for the ground truth anyway) is materialized eagerly
    // (key-cardinality-sized — the size class of the trueSize join that
    // always existed here, never the raw side), and the sketch matrix
    // folds from it with weighted adds. Cell sums are plain integer Σs,
    // so Σ_key freq·1[cell] ≡ one increment per raw row — bit-identical
    // to sketching the raw stream, without the second scan per side
    // that the raw-stream sketch plus the frequency aggregation cost.
    // lazy: the matrix fold's head() below computes every partition, so
    // the blocks materialize inside that job instead of a separate one
    def freq(df: DataFrame, cname: String): DataFrame = df
      .select(key.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as(cname))
      .localCheckpoint(eager = false)
    val fa = freq(a, "ca")
    val fb = freq(b, "cb")
    def matrix(f: DataFrame, cname: String): Seq[Long] = f
      .agg(expr(s"graft_cms_sketch_w(k, $cname, $depth, $width)").as("m"))
      .head().getSeq[Long](0)
    val ma = matrix(fa, "ca")
    val mb = matrix(fb, "cb")
    val inner = (0 until depth).map { r =>
      (0 until width).map(c => ma(r * width + c) * mb(r * width + c)).sum
    }
    val est = inner.min
    val trueSize = fa.join(fb, Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))).head().getLong(0)
    inner.zipWithIndex
      .map { case (ip, r) => (r, ip, trueSize, est, est - trueSize) }
      .toDF("row", "inner", "true_size", "est", "overestimate")
      .orderBy(col("row"))
  }

  /** `alpha_m · m²` for HLL precision p — the Flajolet et al. (2007)
    * bias constants. A Scala-computed double, INLINED into the SQL
    * mirror via Double.toString, so both engines use the identical
    * bits. */
  def hllAlphaMM(p: Int): Double = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m * m
  }

  /** The Flajolet estimate over a register-file column — ONE definition
    * of the arithmetic, shared by [[hllDistinct]] and the streaming p10
    * post-pass (its SQL twin is the query layer's shared mirror): Z as
    * an exact binary-fraction fold, the raw `αm²/Z`, and the
    * small-range linear-counting branch. */
  def hllEstimate(regs: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column = {
    val m = 1 << p
    val z = aggregate(transform(regs, r => pow(lit(2.0), -r)),
      lit(0.0), (a, b) => a + b)
    val v = size(filter(regs, r => r === 0))
    val raw = lit(hllAlphaMM(p)) / z
    when(raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v)).otherwise(raw)
  }

  /** Per-group HyperLogLog distinct estimates (Flajolet et al. 2007)
    * with the exact count riding along — the DETERMINISTIC sibling of
    * Spark's `approx_count_distinct` (q23): that sketch's binary state
    * is engine-specific, so q23 can only be rows-only; this one's
    * registers derive from the portable fold ([[graft.functions
    * .HllSketch]] — max-merged, order independent by algebra), so the
    * ORACLE rebuilds all 2^p registers and replays the estimate,
    * including the small-range linear-counting branch.
    *
    * One aggregation: the register file partial-aggregates map-side
    * (2^p bytes per group per partition — the raw items never shuffle
    * for the sketch; the exact count in the same pass is the gate's
    * ground truth, not the serving shape).
    *
    * Ceiling: the portable hash lives in a 31-bit space (the price of
    * SQL replayability), so estimates saturate as per-group cardinality
    * approaches ~2³¹; past ~10⁸ distincts per group, undercounting sets
    * in silently. Shard such groups (sum the shard estimates) or use
    * Spark's HLL++ — see [[graft.functions.HllRegisters]].
    *
    * Output: (groupCol, hll_estimate, exact_distinct, rel_err), group
    * order. */
  def hllDistinct(df: DataFrame, itemCol: org.apache.spark.sql.Column,
      groupCol: String, p: Int = 8): DataFrame = {
    GraftExpressions.register(df.sparkSession)
    val grouped = df
      .select(col(groupCol), itemCol.as("_it"))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_hll_sketch(_it, $p)").as("regs"),
        countDistinct(col("_it")).as("exact_distinct"))
    grouped
      .withColumn("hll_estimate", hllEstimate(col("regs"), p))
      .withColumn("rel_err",
        abs(col("hll_estimate") - col("exact_distinct")) / col("exact_distinct"))
      .select(col(groupCol), col("hll_estimate"), col("exact_distinct"), col("rel_err"))
      .orderBy(col(groupCol))
  }
}
