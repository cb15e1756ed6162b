package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable dataset splitting for training pipelines.
  *
  * `df.randomSplit` / `df.sample` are seed-AND-partitioning dependent: the
  * same row can land in different splits when the input repartitions, files
  * split differently, or the corpus grows — silently leaking yesterday's
  * training docs into today's eval set. Content-hash bucketing fixes the
  * assignment to the KEY alone: a document keeps its split forever, on any
  * cluster layout, in any engine that can compute the same hash.
  *
  * The hash is the portable mod-2³¹ polynomial fold (h·31 + codepoint,
  * mod 2³¹−1) — the same fingerprint the oracle-checked t10 query uses, so
  * split assignment is reproducible bit-for-bit in DuckDB/SQL for audits.
  * Evaluated by the codegen'd [[graft.functions.Fold31]] expression: one
  * pass over the UTF-8 bytes inside whole-stage codegen — a scan, no
  * shuffle, no UDF, no per-character allocation.
  */
object Sampling {

  /** Portable fingerprint of a string column: fold (h·31 + codepoint)
    * mod 2³¹−1 over its code points. Range [0, 2³¹−1). Takes a Column —
    * never a SQL fragment — so caller-supplied values (seeds, composite
    * keys) stay DATA: there is no string to break out of. */
  def portableFingerprint(c: Column): Column = {
    // call_function resolves against the session's function registry at
    // analysis time, so make sure graft_fold31 is registered on the
    // active session before the Column is used (idempotent,
    // registry-local).
    graft.functions.GraftExpressions.register(SparkSession.active)
    call_function("graft_fold31", c)
  }

  /** Column-name convenience overload. */
  def portableFingerprint(name: String): Column = portableFingerprint(col(name))

  /** Avalanche remix of [[portableFingerprint]] — REQUIRED whenever the
    * hash is consumed as a UNIFORM (`u = fp/2³¹−1`) or as an ORDERING
    * ("k smallest fingerprints" picks), rather than as a bucket key or
    * an identity fingerprint.
    *
    * Why: the raw fold's high bits are dominated by the key's PREFIX.
    * For keys like `seed:<doc_id>` with consecutive integer ids, the
    * varying suffix only perturbs the low ~15 bits, so `fold/2³¹` is
    * near-CONSTANT across the corpus (measured: u ∈ [0.4540, 0.4541]
    * for all 3-digit ids under one seed) and `ORDER BY fold(id)` is
    * simply numeric id order — "pseudo-random" selections that aren't.
    * Multiplying by the Knuth constant 2654435761 mod 2³¹−1 turns a
    * small key-difference δ into δ·K mod p — equidistributed by the
    * three-distance theorem (measured: decile occupancy 0.099–0.101
    * over seeded consecutive ids). Bucket uses (`pmod(fp, n)`) read the
    * LOW bits, which do vary, so they stay on the raw fold — as do
    * identity fingerprints (t04/t10), where bit-compatibility with the
    * published fold matters more than distribution.
    *
    * Portable: integer arithmetic only (product < 2⁶³), mirrored by the
    * oracle-side `mixSql`. Range [0, 2³¹−1); 0 only if the fold is 0. */
  def portableUniformFingerprint(c: Column): Column =
    (portableFingerprint(c) * lit(2654435761L)) % lit(2147483647L)

  /** Adds `bucket` ∈ [0, nBuckets) derived from the key column's content
    * hash. Same key → same bucket, independent of partitioning, engine,
    * or corpus growth. */
  def withHashBucket(df: DataFrame, keyCol: String, nBuckets: Int = 100): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    df.withColumn("bucket", pmod(portableFingerprint(keyCol), lit(nBuckets)))
  }

  /** Adds `bucket` + `split` columns: `cuts` maps split names to bucket
    * percentages summing to ≤ 100 (a shortfall leaves a holdout assigned
    * to the LAST split). E.g. `Seq("train" -> 80, "validation" -> 10,
    * "test" -> 10)` — buckets [0,80) train, [80,90) validation, rest test.
    * Deterministic and stable: growing the corpus never reassigns an
    * existing key's split. */
  def hashSplit(df: DataFrame, keyCol: String,
      cuts: Seq[(String, Int)] = Seq("train" -> 80, "validation" -> 10, "test" -> 10))
      : DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_._2 > 0) && cuts.map(_._2).sum <= 100,
      s"cuts must be positive and sum to <= 100: $cuts")
    val bounds = cuts.scanLeft(0) { case (acc, (_, pct)) => acc + pct }.tail
    val splitCol = cuts.zip(bounds).dropRight(1)
      .foldRight(lit(cuts.last._1): Column) { case (((name, _), bound), rest) =>
        when(col("bucket") < bound, name).otherwise(rest)
      }
    withHashBucket(df, keyCol, 100).withColumn("split", splitCol)
  }

  /** Deterministic global training-order shuffle: every row gets a shard
    * and a position within it, derived purely from (seed, id) — the
    * "shuffle the corpus before training" step, reproducible across
    * engines and re-runs (unlike `orderBy(rand(seed))`, whose output
    * depends on partition layout). The shard is the unit of parallel
    * reading: a loader streams shards independently in `pos` order, and
    * `global_pos` is the round-robin interleave key (`pos·nShards +
    * shard`) for readers that want one merged order — a dense permutation
    * when shards are balanced (hash-assigned, so ±√n), and a valid total
    * order regardless. Changing `seed` produces an unrelated permutation
    * for the next epoch.
    *
    * Scale: one hash-shuffle into `nShards` groups + a per-shard sort —
    * each task sorts corpus/nShards rows; size nShards so that fits in an
    * executor (at 100 TB: thousands of shards, which is also what the
    * training loader wants). No global sort, no single-task window. */
  def trainingOrder(df: DataFrame, idCol: String, seed: String,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    // seed is passed as a literal Column, not spliced into SQL text — a
    // seed containing quotes (or anything else) is just bytes in the key.
    // Remixed: the permutation is an ORDERING over seeded ids — the raw
    // fold would order consecutive ids almost numerically (no shuffle).
    val fp = portableUniformFingerprint(
      concat(lit(s"$seed:"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_fp"), col(idCol))
    df.withColumn("_fp", fp)
      .withColumn("shard", pmod(col("_fp"), lit(nShards)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .withColumn("global_pos", col("pos") * nShards + col("shard"))
      .drop("_fp")
  }

  /** Deterministic token-budget selection per stratum: rows are ordered
    * by content hash within their stratum and kept while the running
    * token total BEFORE them is under the stratum's budget — the
    * "take N tokens of each language/domain" step of corpus mixing.
    * Like [[stratifiedKeep]] the decision is a pure function of the data
    * (hash order), so re-runs and engine changes never flip a row; unlike
    * it, the cut is an absolute token count, which is how training
    * mixtures are actually specified.
    *
    * Scale: the running sum is two-level, NOT one window per stratum
    * (which would sort an entire stratum — possibly most of the corpus —
    * in one task). Rows hash into `nBuckets` buckets per stratum; bucket
    * subtotals (a strata×nBuckets frame) get prefix-summed and broadcast
    * back as offsets, and the within-bucket window sorts only
    * stratum/nBuckets rows per task. The canonical order is
    * (bucket, hash, id), identical to what a single window over
    * `ORDER BY bucket, hash, id` would produce — asserted in tests. */
  def tokenBudgetKeep(df: DataFrame, keyCol: String, idCol: String,
      stratumCol: String, tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long, nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(defaultBudget >= 0 && budgets.values.forall(_ >= 0),
      s"budgets must be non-negative: $budgets default $defaultBudget")
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .withColumn("_fp", portableFingerprint(keyCol))
      .withColumn("_bucket", pmod(col("_fp"), lit(nBuckets)))
    val offsets = keyed
      .groupBy(col(stratumCol), col("_bucket"))
      .agg(sum(col(tokenCol)).as("_bucket_tokens"))
      .withColumn("_offset", coalesce(
        sum(col("_bucket_tokens")).over(Window.partitionBy(col(stratumCol))
          .orderBy(col("_bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(stratumCol), col("_bucket"), col("_offset"))
    val withinW = Window.partitionBy(col(stratumCol), col("_bucket"))
      .orderBy(col("_fp"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget): Column) {
      case (acc, (stratum, b)) => when(col(stratumCol) === stratum, lit(b)).otherwise(acc)
    }
    keyed
      .join(broadcast(offsets), Seq(stratumCol, "_bucket"))
      .withColumn("cum_before",
        (col("_offset") + coalesce(sum(col(tokenCol)).over(withinW), lit(0L))).cast("long"))
      .withColumn("kept", col("cum_before") < budgetCol)
      .drop("_fp", "_bucket", "_offset")
  }

  /** Deterministic stratified downsampling toward a target mixture: each
    * stratum keeps `rates(stratum)`% of its rows (strata absent from
    * `rates` keep 100%), chosen by content-hash bucket — the
    * mixture-weighting step of a training-data pipeline (e.g. rebalance
    * an English-heavy corpus before tokenization). Unlike `df.sample`,
    * the keep decision is a pure function of the key: re-runs, engine
    * changes, and corpus growth never flip an existing row, so
    * incremental batches compose with previously published mixes.
    * Scan-only — the decision is a per-row hash compare, no shuffle. */
  def stratifiedKeep(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Int]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 100),
      s"rates must be percentages in 0..100: $rates")
    val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(100): Column) {
      case (acc, (stratum, pct)) => when(col(stratumCol) === stratum, lit(pct)).otherwise(acc)
    }
    withHashBucket(df, keyCol, 100).withColumn("kept", col("bucket") < rateCol)
  }

  /** Temperature-based mixture sampling (the multilingual rebalancing
    * rule of mBERT / XLM-R — Conneau et al., "Unsupervised Cross-lingual
    * Representation Learning at Scale", ACL'20): sample strata with
    * probability ∝ share^α, α < 1 flattening the distribution so
    * low-resource strata are up-weighted relative to their raw share.
    * Realized as deterministic per-stratum keep RATES with an expected
    * total of `targetRows`: rate_s = min(1, targetRows·q_s/n_s) with
    * q_s ∝ (n_s/N)^α, and each row kept iff its content-hash uniform
    * u = fold(key)/2³¹−1 < rate_s — so the decision is a pure function
    * of (corpus stats, key), replayable in SQL, stable under
    * partitioning, and keep/drop never flips for an existing row when
    * the same stats are passed again.
    *
    * Plan shape: one partial+final count per stratum (broadcast back —
    * strata counts are tiny), then a scan-speed per-row hash compare.
    * No shuffle of the data itself, at any corpus size.
    *
    * Output: input columns + `rate` (the stratum's keep rate) +
    * `kept`. */
  def temperatureKeep(df: DataFrame, keyCol: String, stratumCol: String,
      alpha: Double, targetRows: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(targetRows >= 0, s"targetRows must be non-negative, got $targetRows")
    // tracked: the counts (and the stats derived from them) are
    // referenced several times below — without the cache each reference
    // re-aggregates, i.e. re-SCANS the corpus (4 scans for 5 numbers at
    // 100 TB); cached, the corpus is scanned once for stats
    val counts = tracked(df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n")))
    val stats = counts
      .crossJoin(broadcast(counts.select(sum(col("_n")).as("_total"))))
      .withColumn("_q", pow(col("_n").cast("double") / col("_total"), lit(alpha)))
    // _z sums doubles: route through the DECIMAL(30,6) detour so the
    // normalizer (hence every rate) is accumulation-order independent
    // and bit-identical cross-engine (the Num contract).
    // Magnitude bound (the Num.dsum precondition): summands are stratum
    // shares^α ∈ (0, 1]; a term falls below the 10⁻⁶ grid only when a
    // stratum holds < 10⁻⁶̂(1/α) of the corpus — at α = 0.5 that is one
    // row per 10¹² — and these terms SHRINK with corpus growth, so a
    // deployment with ultra-rare strata at larger N than the fixture
    // must migrate to the (38,18) grid (SamplingSpec pins the
    // smallest-term behavior at the documented edge).
    val rates = stats
      .crossJoin(broadcast(stats.select(
        sum(col("_q").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("_z"))))
      .select(col(stratumCol),
        least(lit(1.0),
          lit(targetRows.toDouble) * (col("_q") / col("_z")) / col("_n")).as("rate"))
    val u = portableFingerprint(col(keyCol)).cast("double") / lit(2147483647.0)
    // null-safe join: a NULL stratum forms its own count group above, so
    // it must also receive its rate here — a plain equi-join would
    // silently drop those rows from the output
    val r = rates.withColumnRenamed(stratumCol, "_stratum")
    df.join(broadcast(r), col(stratumCol) <=> col("_stratum"), "left")
      .drop("_stratum")
      .withColumn("kept", u < col("rate"))
  }

  // Frames shared by several aggregation branches of dsirResample persist
  // here; Bench releases them between queries (same lifecycle as the
  // Dedup/Text frames).
  private def tracked(df: DataFrame): DataFrame = graft.util.CacheRegistry.track(df)

  /** Deterministic K-sample per stratum — the "carve a fixed eval/debug
    * set per domain" operation: the `k` rows of each stratum whose keys
    * have the smallest portable fingerprint, i.e. a content-determined
    * pseudo-random sample that is stable under re-runs, partitioning,
    * engine choice, and corpus growth (a new doc displaces at most one
    * pick, it never reshuffles the set — unlike `ORDER BY rand() LIMIT`).
    *
    * Scale shape: the per-stratum selection runs through the bounded
    * k-heap aggregate ([[graft.functions.TopK]]) — each input partition
    * reduces to ≤ k candidates per stratum map-side and only k-element
    * buffers cross the shuffle. A `row_number() OVER (PARTITION BY
    * stratum ORDER BY fp)` window would instead sort every stratum in
    * one task; at 100 TB a single language is the whole corpus.
    *
    * Output: (stratum, rank 1..k, id, fp), rank by (fp asc, id asc). */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    graft.functions.GraftExpressions.register(SparkSession.active)
    // TopK keeps the k best by (score desc, id asc); negating the
    // fingerprint turns that into (fp asc, id asc)
    df.withColumn("_fp", portableFingerprint(keyCol))
      .withColumn("_score", (-col("_fp")).cast("double"))
      .groupBy(col(stratumCol))
      .agg(expr(s"graft_topk($idCol, _score, $k)").as("tk"))
      .select(col(stratumCol), posexplode(col("tk")).as(Seq("i", "s")))
      .select(col(stratumCol), (col("i") + 1).cast("long").as("rank"),
        col("s.neighbor_id").as(idCol),
        (-col("s.cos_sim")).cast("long").as("fp"))
      .orderBy(col(stratumCol), col("rank"))
  }

  /** UniMax language sampling (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): distribute a total token `budget` across
    * strata by giving every stratum an equal share of whatever remains,
    * capped at `maxEpochs` passes over its own data — the paper's greedy
    * loop (its Algorithm 1), which up-weights low-resource languages to
    * the epoch cap and splits the rest uniformly, avoiding both the
    * starvation of proportional sampling and the over-repetition of
    * uniform sampling.
    *
    * Computed in closed form, not as a loop: with strata sorted
    * ascending by capacity c = tokens·maxEpochs, the greedy allocation
    * is water-filling — a stratum is "capped" (gets its full capacity)
    * iff c·(remaining strata) ≤ (budget − capacity prefix before it),
    * and every uncapped stratum shares the leftover equally. The capped
    * test is pure INTEGER arithmetic (exact cross-engine); the only
    * doubles are the final level and rates. The proof that the prefix
    * test reproduces the greedy exactly: cappedness is monotone in the
    * capacity order (once a stratum exceeds its equal share, all larger
    * ones do too), so the prefix of "all previous" equals the prefix of
    * "all previous capped".
    *
    * Plan shape: one corpus aggregation to a strata-sized frame (cached),
    * a single-task window over that TINY frame (strata count — languages
    * — not corpus rows), and broadcast joins back. No corpus shuffle.
    *
    * Returns the per-stratum allocation: (stratum, stratum_tokens,
    * capped, lang_budget, rate) where rate = lang_budget/stratum_tokens
    * ∈ (0, maxEpochs] is the expected epochs over that stratum. */
  def unimaxAllocate(df: DataFrame, stratumCol: String, tokenCol: String,
      budget: Long, maxEpochs: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    // tracked: the strata frame feeds two branches (the capped-sum
    // aggregate and the output join); uncached each branch would rescan
    // the corpus for the same tiny aggregate
    val counts = tracked(df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).cast("long").as("stratum_tokens"))
      .withColumn("_cap", col("stratum_tokens") * lit(maxEpochs.toLong)))
    // single-task window: the frame is one row per STRATUM (languages /
    // domains), tiny at any corpus size — never corpus rows
    val w = Window.orderBy(col("_cap"), col(stratumCol))
    val flagged = counts
      .withColumn("_idx", row_number().over(w).cast("long"))
      .withColumn("_pre", coalesce(
        sum(col("_cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(counts.select(count(lit(1)).as("_L"))))
      .withColumn("capped",
        col("_cap") * (col("_L") - col("_idx") + 1) <= lit(budget) - col("_pre"))
    val leftovers = flagged.agg(
      sum(when(col("capped"), col("_cap")).otherwise(lit(0L))).as("_capsum"),
      sum(when(col("capped"), lit(0L)).otherwise(lit(1L))).as("_nunc"))
    flagged.crossJoin(broadcast(leftovers))
      .withColumn("lang_budget", when(col("capped"), col("_cap").cast("double"))
        .otherwise((lit(budget) - col("_capsum")).cast("double") / col("_nunc")))
      .withColumn("rate", col("lang_budget") / col("stratum_tokens").cast("double"))
      .select(col(stratumCol), col("stratum_tokens"), col("capped"),
        col("lang_budget"), col("rate"))
  }

  /** Per-document realization of [[unimaxAllocate]]: each doc gets
    * `n_copies = ⌊rate⌋ + (u < frac(rate))` with u the content-hash
    * uniform of (seed, id) — deterministic stochastic rounding whose
    * expected token count per stratum equals the stratum's budget, and
    * whose decisions are a pure function of (corpus stats, seed, id):
    * replayable in SQL, stable under partitioning. A capped stratum's
    * rate is EXACTLY maxEpochs (integer capacity / its own tokens), so
    * every one of its docs gets exactly maxEpochs copies — no rounding
    * noise where the paper's semantics are exact repetition.
    *
    * One stats scan (cached tiny aggregate) + the output scan with a
    * broadcast allocation join — no corpus shuffle at any size. */
  def unimaxKeep(df: DataFrame, idCol: String, stratumCol: String,
      tokenCol: String, budget: Long, maxEpochs: Int, seed: String): DataFrame = {
    val alloc = unimaxAllocate(df, stratumCol, tokenCol, budget, maxEpochs)
      .select(col(stratumCol).as("_stratum"), col("capped"), col("rate"))
    val u = portableUniformFingerprint(
      concat(lit(seed + ":"), col(idCol).cast("string"))).cast("double") / lit(2147483647.0)
    // null-safe join, the t36 rule: a NULL stratum forms its own count
    // group in the allocation, so it must receive its rate here too
    df.join(broadcast(alloc), col(stratumCol) <=> col("_stratum"), "left")
      .drop("_stratum")
      .withColumn("n_copies",
        floor(col("rate")) + when(u < col("rate") - floor(col("rate")), lit(1L))
          .otherwise(lit(0L)))
  }

  /** DSIR — data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): pick raw-corpus documents that look like a TARGET
    * domain, by importance weights computed on hashed n-gram features.
    *
    *  1. features: whitespace unigrams + bigrams, hashed into `buckets`
    *     buckets with the portable fold (the paper's hashed n-gram
    *     generative model — collisions are part of the model, not noise);
    *  2. two bucket LMs with add-one smoothing: the target slice
    *     (`isTarget` rows) and the full raw corpus;
    *  3. per-doc importance weight = Σ_grams [ln p_target(b) −
    *     ln p_raw(b)], summed through the DECIMAL(30,6) detour (the
    *     [[graft.queries.Num]] cross-engine contract: per-row doubles are
    *     IEEE-identical, only the accumulation order needs fixing);
    *  4. Gumbel-perturbed selection: key = weight − ln(−ln(u)) with u a
    *     hash-derived uniform in (0, 1] — the Gumbel-max trick that makes
    *     "sample ∝ softmax(weight)" a deterministic, replayable per-row
    *     decision. A FIXED threshold `tau` (Poisson-style sampling) keeps
    *     the decision embarrassingly parallel: no global top-k sort, no
    *     single-task window, so the plan is scan + two broadcast-LM joins
    *     at any corpus size; P(select) rises monotonically with weight,
    *     which is the resampling semantics the paper's Gumbel top-k
    *     targets.
    *
    * Output: (doc_id, n_grams, weight, gumbel_key, selected) for every
    * doc with ≥ 1 token, ascending doc_id. Deterministic in
    * (corpus, seed, tau); replayable bit-for-bit in SQL. */
  def dsirResample(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int, seed: String, tau: Double): DataFrame = {
    import graft.functions.TextFunctions.tokens
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val sp = tokens(col(textCol))
    val bigrams = when(size(col("sp")) > 1,
        zip_with(slice(col("sp"), lit(1), size(col("sp")) - 1),
          slice(col("sp"), lit(2), size(col("sp")) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val grams = tracked(docs
      .select(col(idCol).as("doc_id"), isTarget.as("is_target"), sp.as("sp"))
      .filter(size(col("sp")) > 0)
      .select(col("doc_id"), col("is_target"),
        explode(concat(col("sp"), bigrams)).as("gram"))
      .withColumn("b", pmod(portableFingerprint(col("gram")), lit(buckets))))
    val tc = grams.filter(col("is_target")).groupBy("b").agg(count(lit(1)).as("ct"))
    val rc = grams.groupBy("b").agg(count(lit(1)).as("cr"))
    val nt = grams.filter(col("is_target")).select(count(lit(1)).as("n_t"))
    val nr = grams.select(count(lit(1)).as("n_r"))
    // add-one smoothing keeps target-absent buckets finite; raw counts
    // are never zero for grams that exist (the raw LM saw every gram)
    val weights = grams
      .join(broadcast(tc), Seq("b"), "left")
      .join(broadcast(rc), Seq("b"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .withColumn("logratio",
        log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) / (col("n_t") + lit(buckets)))
          - log((col("cr").cast("double") + lit(1.0)) / (col("n_r") + lit(buckets))))
      .groupBy(col("doc_id"))
      // DECIMAL(30,6) detour inline (operator layer can't depend on the
      // query layer's Num; the mirror contract is Num.dsumSql).
      // Magnitude bound (the Num.dsum precondition): summands are
      // per-gram log-ratios of Laplace-smoothed bucket frequencies —
      // O(1) except where the target and reference rates genuinely
      // coincide, and there the true term is ~0, so the ≤ 5·10⁻⁷
      // per-term quantization is of the same order as the value itself
      // (no q34-style mass class sits wholly below the grid).
      .agg(count(lit(1)).as("n_grams"),
        sum(col("logratio").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("weight"))
    val u = (portableUniformFingerprint(
        concat(lit(seed + ":"), col("doc_id").cast("string"))) + lit(1))
      .cast("double") / lit(2147483647.0)
    weights
      .withColumn("gumbel_key", col("weight") + (-log(-log(u))))
      .withColumn("selected", col("gumbel_key") >= lit(tau))
      .orderBy(col("doc_id"))
  }

  /** Weighted reservoir sample WITHOUT replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", Information
    * Processing Letters 2006 — algorithm A-Res): each row draws
    * `u ∈ (0, 1]` from the portable fingerprint mix and scores
    * `res_key = ln(u) / w`; the k LARGEST keys win, which realizes
    * exactly the sequential weighted-sampling-without-replacement
    * distribution. `ln(u)/w` is the monotone log of the paper's
    * `u^(1/w)` (same winners, no pow precision cliffs). Zero/negative
    * weights are excluded up front (the paper's w > 0 domain).
    *
    * Unlike `sample`/`rand`, the draw is a pure function of
    * (seed, id, weight): deterministic, partitioning-independent, and
    * replayable in SQL — so the k winners are oracle-gateable data, not
    * a fixture. Scale shape: one scan; the bounded k-heap aggregate
    * ([[graft.functions.TopK]]) keeps k-entry buffers map-side and
    * ships only those — no global sort, no corpus-sized shuffle at any
    * size. The winners (k rows) broadcast back for the weight column.
    *
    * Output: (idCol, weight, res_key, rank), rank 1..k by (key desc,
    * id asc). */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: Column,
      k: Int, seed: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    graft.functions.GraftExpressions.register(df.sparkSession)
    val u = (portableUniformFingerprint(
        concat(lit(seed + ":"), col(idCol).cast("string"))) + lit(1))
      .cast("double") / lit(2147483647.0)
    val keyed = df
      .select(col(idCol), weightCol.cast("double").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("_rk", log(u) / col("weight"))
    val winners = keyed
      .agg(expr(s"graft_topk($idCol, _rk, $k)").as("tk"))
      .select(posexplode(col("tk")).as(Seq("_i", "_e")))
      .select(col("_e.neighbor_id").as(idCol),
        (col("_i") + 1).cast("long").as("rank"),
        col("_e.cos_sim").as("res_key"))
    keyed.join(broadcast(winners), Seq(idCol))
      .select(col(idCol), col("weight"), col("res_key"), col("rank"))
      .orderBy(col("rank"))
  }

  /** Per-group quantile estimates from a bottom-k hash sample, with the
    * exact rank of every estimate verified in the same pass (Cohen &
    * Kaplan, "Summarizing data using bottom-k sketches", PODC 2007; the
    * rank error of the ⌈q·m⌉-th order statistic of a uniform m-sample is
    * the classic O(1/√m)).
    *
    * Unlike GK/KLL-style mergeable quantile sketches, whose retained-item
    * set depends on merge order (so a distributed run can never be
    * hash-gated), the bottom-k-by-hash sample is a PURE SET FUNCTION of
    * the input: row r is kept iff remix(seed:id_r) is among the group's k
    * smallest, regardless of partitioning or merge tree — the
    * merge-order-purity that makes Bloom/CMS/HLL gateable, obtained here
    * by making retention a property of the ROW rather than of the merge
    * history. The avalanche remix is mandatory ([[portableUniformFingerprint]]):
    * raw-fold order on consecutive ids is id order, not a sample.
    *
    * Estimate: the ⌈q·m⌉-th smallest sampled (value, id) pair. Verify:
    * one exact aggregation computes each estimate's true rank in the
    * group's total (value, id) order — the heavyHitters propose/dispose
    * discipline applied to quantiles, so the output carries measured
    * `rank_err` as hash-gated data, not a hope.
    *
    * Scale shape: the bounded k-heap ([[graft.functions.TopK]], score
    * = −u) reduces each partition to ≤ k ids per group map-side — only
    * k-element buffers cross the shuffle, never rows. The winners
    * (groups×k ids) broadcast back for their values; the verify pass is
    * one more scan whose shuffle carries (group, q) partial counts. A
    * window function touches only the groups×k sample, never the corpus.
    *
    * Output per (group, q): (group, q, est_value, sample_rank, msize,
    * true_rank, n, rank_err), ordered by (group, q). */
  def kmvQuantiles(df: DataFrame, groupCol: String, idCol: String,
      valueCol: Column, qs: Seq[Double], k: Int, seed: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")
    val spark = df.sparkSession
    graft.functions.GraftExpressions.register(spark)
    // NULL rows are skipped, matching the sketch family's update contract
    // — and Spark sorts nulls FIRST where DuckDB sorts them LAST, so a
    // null value in the (value, id) order would silently desync the gate
    val base = df.select(col(groupCol), col(idCol), valueCol.cast("double").as("value"))
      .filter(col(idCol).isNotNull && col("value").isNotNull)
    val keyed = base.withColumn("_u",
      portableUniformFingerprint(
        concat(lit(seed + ":"), col(idCol).cast("string"))).cast("double"))
    // bottom-k of _u == top-k of −_u; heap ties (hash collisions) break
    // by id asc, matching the oracle's ORDER BY _u, id
    val winnerIds = keyed
      .withColumn("_negu", -col("_u"))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_topk($idCol, _negu, $k)").as("tk"))
      .select(col(groupCol), explode(col("tk")).as("_e"))
      .select(col(groupCol), col("_e.neighbor_id").as(idCol))
    kmvQuantileEstimates(base, winnerIds, groupCol, idCol, qs)
  }

  /** Estimate + exact-rank-verify post-pass of [[kmvQuantiles]], split out
    * so the STREAMING variant (p14) can feed it a winner set selected as
    * Structured Streaming aggregation state: the bottom-k-by-remix sample
    * is a pure set function of the input (bottom-k of a union == bottom-k
    * of the per-part bottom-k's), so batch- and stream-selected winners
    * coincide and one verification path serves both. `base` must carry
    * (groupCol, idCol, value) with nulls already dropped; `winnerIds`
    * carries (groupCol, idCol). */
  private[graft] def kmvQuantileEstimates(base: DataFrame, winnerIds: DataFrame,
      groupCol: String, idCol: String, qs: Seq[Double]): DataFrame = {
    val spark = base.sparkSession
    val sample = base.join(broadcast(winnerIds), Seq(groupCol, idCol))
    val m = sample.groupBy(col(groupCol)).agg(count(lit(1)).as("msize"))
    val ranked = sample.join(broadcast(m), Seq(groupCol))
      .withColumn("vrk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("value"), col(idCol))))
    import spark.implicits._
    val qdf = qs.toDF("q")
    // IEEE double ⌈q·m⌉ on BOTH sides (the oracle CASTs its q literals to
    // DOUBLE): decimal q·m rounds differently exactly at integer products
    val est = ranked.join(broadcast(qdf),
        col("vrk") === ceil(col("q") * col("msize")))
      .select(col(groupCol), col("q"), col("value").as("est_value"),
        col(idCol).as("est_id"), col("vrk").cast("long").as("sample_rank"),
        col("msize"))
    val n = base.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val ranks = base
      .join(broadcast(est.select(col(groupCol), col("q"), col("est_value"), col("est_id"))),
        Seq(groupCol))
      .groupBy(col(groupCol), col("q"))
      .agg(sum(when(col("value") < col("est_value") ||
          (col("value") === col("est_value") && col(idCol) <= col("est_id")), 1L)
        .otherwise(0L)).as("true_rank"))
    est.join(ranks, Seq(groupCol, "q"))
      .join(broadcast(n), Seq(groupCol))
      .withColumn("rank_err",
        abs(col("true_rank").cast("double") / col("n").cast("double") - col("q")))
      .select(col(groupCol), col("q"), col("est_value"), col("sample_rank"),
        col("msize"), col("true_rank"), col("n"), col("rank_err"))
      .orderBy(col(groupCol), col("q"))
  }
}
