package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-based corpus quality scoring — the two published selection
  * recipes built on hashed n-gram language models:
  *
  *   - [[perplexityBuckets]]: CCNet's per-language perplexity
  *     head/middle/tail split (Wenzek et al., "CCNet: Extracting High
  *     Quality Monolingual Datasets from Web Crawl Data", LREC 2020);
  *   - [[classifierPareto]]: the GPT-3 quality-classifier Pareto rule
  *     (Brown et al., "Language Models are Few-Shot Learners", 2020,
  *     Appendix A — also The Pile's and PaLM's selection step), the
  *     classifier-based baseline DSIR ([[Sampling.dsirResample]]) was
  *     published against: same hashed uni+bigram features, different
  *     decision rule.
  *
  * Both are deterministic end to end — LM counts are exact integers,
  * per-doc accumulation goes through the DECIMAL(30,6) detour (the
  * cross-engine [[graft.queries.Num]] contract), and every random draw
  * is a portable-fold hash uniform — so every score, threshold, and
  * keep/drop verdict replays bit-for-bit in SQL.
  *
  * Scale shape (both): one explode + one bucket-sized LM aggregation
  * (broadcast back), then per-doc partial+final aggs — no global sort,
  * no per-stratum window over the full corpus. The perplexity tercile
  * thresholds come from a bounded-k fingerprint sample per language
  * (the bounded k-heap aggregate: k-element buffers cross the shuffle),
  * which is also how CCNet itself computes them (on a sample, then a
  * per-row compare) — an exact per-language rank would sort a whole
  * language in one task, which at 100 TB is the whole corpus.
  */
object Quality {

  private def tracked(df: DataFrame): DataFrame = graft.util.CacheRegistry.track(df)

  /** Whitespace unigrams ++ adjacent bigrams of a token-array column —
    * the hashed n-gram feature set of DSIR/CCNet-style bucket LMs (the
    * fixture corpus carries its language signal in token TRANSITIONS,
    * which is also why CCNet uses a 5-gram KenLM, not unigram counts). */
  private def uniBigrams(sp: Column): Column =
    concat(sp, when(size(sp) > 1,
        zip_with(slice(sp, lit(1), size(sp) - 1), slice(sp, lit(2), size(sp) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>")))

  /** Exploded hashed-gram frame shared by both operators:
    * (doc_id, carried columns..., gram, b) — one row per uni/bigram,
    * bucketed by the portable fold. Docs with zero tokens are excluded
    * (no features → no score), matching the DSIR convention. The gram →
    * bucket encoding is a gated cross-engine contract (the t44/t45
    * oracles replay it), so it lives in exactly one place. */
  private def hashedGrams(docs: DataFrame, textCol: String, idCol: String,
      carry: Seq[(String, Column)], buckets: Int): DataFrame = {
    import graft.functions.TextFunctions.tokens
    tracked(docs
      .select(col(idCol).as("doc_id") +:
        carry.map { case (n, c) => c.as(n) } :+
        tokens(col(textCol)).as("sp"): _*)
      .filter(size(col("sp")) > 0)
      .select(col("doc_id") +: carry.map { case (n, _) => col(n) } :+
        explode(uniBigrams(col("sp"))).as("gram"): _*)
      .withColumn("b",
        pmod(Sampling.portableFingerprint(col("gram")), lit(buckets))))
  }

  /** CCNet perplexity bucketing (Wenzek et al., LREC 2020): score every
    * document against a per-language target-domain LM (CCNet: Wikipedia;
    * here: the `isTarget` slice), then split each language into
    * head/middle/tail terciles by perplexity — downstream pipelines keep
    * the head, or sample the middle/tail at reduced rates.
    *
    *  1. per-language bucket LM with add-one smoothing over the hashed
    *     uni+bigram features of the TARGET slice;
    *  2. `logpp` = −mean ln p(gram) per doc (monotone in perplexity;
    *     exp(logpp) IS the per-gram perplexity), mean through the
    *     DECIMAL(30,6) detour so it is accumulation-order independent;
    *  3. tercile thresholds per language from the `sampleK` docs with
    *     the smallest `fold(seed:doc_id)` fingerprint — a deterministic
    *     content sample selected by the bounded k-heap aggregate, never
    *     a full per-language sort;
    *  4. per-row bucket: head (logpp ≤ t1), middle (≤ t2), tail.
    *
    * Thresholds are values the sample attains, and every `logpp` is
    * bit-identical cross-engine (decimal detour + IEEE division), so the
    * ≤-comparisons replay exactly in SQL. Languages with no target docs
    * still score finitely (add-one smoothing over zero counts).
    *
    * Output: (doc_id, lang, n_grams, logpp, bucket), ascending doc_id. */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, isTarget: Column, buckets: Int, sampleK: Int,
      seed: String): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    require(sampleK > 0, s"sampleK must be positive, got $sampleK")
    graft.functions.GraftExpressions.register(SparkSession.active)
    val g = hashedGrams(docs, textCol, idCol,
      Seq("lang" -> col(langCol), "is_target" -> isTarget), buckets)
    val tc = g.filter(col("is_target"))
      .groupBy(col("lang"), col("b")).agg(count(lit(1)).as("ct"))
    val nt = g.filter(col("is_target"))
      .groupBy(col("lang")).agg(count(lit(1)).as("nt"))
    // add-one smoothing: ln((ct+1)/(nt+buckets)); a language absent from
    // the target slice degrades to the uniform LM rather than diverging
    val logp = log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0))
      / (coalesce(col("nt"), lit(0L)) + lit(buckets)))
    val scored = tracked(g
      .join(broadcast(tc), Seq("lang", "b"), "left")
      .join(broadcast(nt), Seq("lang"), "left")
      .withColumn("_lp", logp)
      .groupBy(col("doc_id"), col("lang"))
      // Magnitude bound (the Num.dsum precondition): summands are
      // Laplace-smoothed n-gram log-probs, ≤ −ln((nt+buckets)/(ct+1)) —
      // below the 10⁻⁶ grid only if one gram held e^(−10⁻⁶) ≈ all of its
      // language's probability mass, which the bucket smoothing forbids.
      .agg(count(lit(1)).as("n_grams"),
        (lit(0.0) - sum(col("_lp").cast(DecimalType(30, 6))).cast("double")
          / count(col("_lp"))).as("logpp")))
    // threshold sample: k smallest fold(seed:doc_id) per language via the
    // bounded k-heap (k-element buffers cross the shuffle; a ranking
    // window would sort an entire language in one task)
    val sampled = scored
      .withColumn("_fp", Sampling.portableUniformFingerprint(
        concat(lit(s"$seed:"), col("doc_id").cast("string"))))
      .withColumn("_score", (-col("_fp")).cast("double"))
      .groupBy(col("lang"))
      .agg(expr(s"graft_topk(doc_id, _score, $sampleK)").as("tk"))
      .select(explode(col("tk")).as("s"))
      .select(col("s.neighbor_id").as("doc_id"))
    val th = sampled.join(scored, "doc_id")
      .groupBy(col("lang"))
      .agg(sort_array(collect_list(col("logpp"))).as("lst"))
      .select(col("lang").as("_lang"),
        element_at(col("lst"),
          ceil(size(col("lst")) / lit(3.0)).cast("int")).as("t1"),
        element_at(col("lst"),
          ceil(size(col("lst")) * lit(2) / lit(3.0)).cast("int")).as("t2"))
    // null-safe join (t36 discipline): a NULL language groups above, so
    // it must receive its thresholds here too
    scored.join(broadcast(th), col("lang") <=> col("_lang"), "left")
      .withColumn("bucket",
        when(col("logpp") <= col("t1"), "head")
          .when(col("logpp") <= col("t2"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_grams"), col("logpp"),
        col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** GPT-3 quality-classifier selection (Brown et al. 2020, Appendix A):
    * score documents with a classifier trained to recognize a curated
    * slice, keep a document iff
    *
    *   `pareto_x > 1 − score`, with `pareto_x = u^(−1/α) − 1`
    *
    * (the paper's `np.random.pareto(α) > 1 − document_score` rule,
    * α = 9) — high-scoring docs are kept outright, low-scoring docs
    * survive with the Pareto tail probability, preserving diversity.
    *
    * The classifier is naive Bayes over the hashed uni+bigram buckets —
    * the add-one-smoothed positive/negative LMs and the document
    * posterior z = ln(n_pos/n_neg) + Σ ln[p_pos(b)/p_neg(b)],
    * score = σ(z) — i.e. the same feature family as
    * [[Sampling.dsirResample]] with a different decision rule, which is
    * exactly the comparison the DSIR paper draws. Σ goes through the
    * DECIMAL(30,6) detour; `u = (fold(seed:doc_id)+1)/2³¹−1 ∈ (0,1]` is
    * the portable hash uniform, so every verdict replays in SQL.
    *
    * Output: (doc_id, n_grams, log_odds, score, pareto_x, kept),
    * ascending doc_id. Both label classes must be non-empty (a one-class
    * corpus has no classifier; the prior would be ±∞). */
  def classifierPareto(docs: DataFrame, textCol: String, idCol: String,
      isPositive: Column, buckets: Int, alpha: Double, seed: String)
      : DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val g = hashedGrams(docs, textCol, idCol, Seq("pos" -> isPositive), buckets)
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE pass over the cached gram frame replaces the four count
    // subtrees (per-bucket positive/negative counts, then the two class
    // totals): every gram lands in exactly one bucket, so Σ_b cp(b) is
    // the positive gram-row count (the old `np`) and likewise for nn —
    // same integers. The per-bucket table is ≤ `buckets` rows (a fixed
    // config, the bounded-collect class q44's matrices set), so it
    // folds to the driver once; the totals are Scala sums of the same
    // longs and the broadcast side becomes a local relation instead of
    // a second pass over the gram cache.
    val bucketCounts = g.groupBy(col("b")).agg(
      sum(col("pos").cast("long")).as("cp"),
      sum((!col("pos")).cast("long")).as("cn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val np = bucketCounts.map(_._2).sum
    val nn = bucketCounts.map(_._3).sum
    val classCounts = spark.createDataset(bucketCounts.toSeq)
      .toDF("b", "cp", "cn")
    // class prior over DOCS (one row per doc pre-explode = distinct ids)
    val prior = g.select(col("doc_id"), col("pos")).distinct()
      .agg(log(sum(col("pos").cast("long")).cast("double")
        / sum((!col("pos")).cast("long"))).as("prior"))
    // parenthesized as ONE expression: a leading `- log(...)` line after
    // a closed call is a separate (discarded) statement under semicolon
    // inference — the negative-class term would silently vanish
    val lodds = (log((coalesce(col("cp"), lit(0L)).cast("double") + lit(1.0))
        / (lit(np) + lit(buckets)))
      - log((coalesce(col("cn"), lit(0L)).cast("double") + lit(1.0))
        / (lit(nn) + lit(buckets))))
    val z = g
      .join(broadcast(classCounts), Seq("b"), "left")
      .withColumn("_lo", lodds)
      .groupBy(col("doc_id"))
      // Magnitude bound (the Num.dsum precondition): summands are
      // per-gram class log-odds — O(1) except for grams whose positive
      // and negative smoothed rates coincide, where the true term is ~0
      // and the ≤ 5·10⁻⁷ quantization matches its own order (no term
      // class sits wholly below the grid, unlike q34's rank mass).
      .agg(count(lit(1)).as("n_grams"),
        sum(col("_lo").cast(DecimalType(30, 6))).cast("double").as("_s"))
      .crossJoin(broadcast(prior))
      .withColumn("log_odds", col("prior") + col("_s"))
    val u = (Sampling.portableUniformFingerprint(
        concat(lit(s"$seed:"), col("doc_id").cast("string"))) + lit(1))
      .cast("double") / lit(2147483647.0)
    z.withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("log_odds"))))
      .withColumn("pareto_x", pow(u, lit(-1.0 / alpha)) - lit(1.0))
      .withColumn("kept", col("pareto_x") > lit(1.0) - col("score"))
      .select(col("doc_id"), col("n_grams"), col("log_odds"), col("score"),
        col("pareto_x"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Per-group Zipf rank-frequency fit (freq ∝ rank^−s): closed-form
    * least squares of ln(freq) on ln(rank) over the top `topRanks`
    * ranks of a (group, item, freq) table — the corpus-statistics model
    * fit read before choosing vocab sizes and mixture temperatures.
    * The window ranks only the vocab-sized frequency table; the four Σ
    * terms cross their aggregation through the decimal detour (ln
    * magnitudes 0–20, far above the 10⁻⁶ grid), so slope and intercept
    * are accumulation-order independent and SQL-replayable (t61).
    * Output: (group, n_ranks, zipf_slope, zipf_intercept). */
  def zipfFit(freq: DataFrame, groupCol: String, freqCol: String,
      itemCol: String, topRanks: Int = 100): DataFrame = {
    require(topRanks > 1, s"topRanks must exceed 1, got $topRanks")
    val ranked = freq
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
          .orderBy(col(freqCol).desc, col(itemCol))))
      .filter(col("rank") <= topRanks)
      .withColumn("x", log(col("rank").cast("double")))
      .withColumn("y", log(col(freqCol).cast("double")))
    def dsum(c: Column) = sum(c.cast(DecimalType(30, 6))).cast("double")
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_ranks"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("y")).as("sxy"))
      .withColumn("zipf_slope",
        (col("n_ranks") * col("sxy") - col("sx") * col("sy")) /
          (col("n_ranks") * col("sxx") - col("sx") * col("sx")))
      .withColumn("zipf_intercept",
        (col("sy") - col("zipf_slope") * col("sx")) / col("n_ranks"))
      .select(col(groupCol), col("n_ranks"), col("zipf_slope"), col("zipf_intercept"))
      .orderBy(col(groupCol))
  }

  /** Heaps'-law vocabulary-growth fit (Heaps, "Information Retrieval:
    * Computational and Theoretical Aspects", 1978; Herdan 1960) — the
    * companion diagnostic to [[zipfFit]]: V(N) ≈ K·N^β, how fast the
    * vocabulary grows as the corpus grows. The read that sizes
    * tokenizer vocabularies and predicts how much NEW text a crawl
    * must add before it stops paying (β near 1 = still discovering; β
    * near 0 = saturated/templated).
    *
    * Growth curve construction (the scale-shaped one): checkpoints are
    * doc-id VALUE fractions of each group's [min, max] id span — never
    * a rank over the corpus (a per-group row-position curve would sort
    * whole groups in single tasks; id-span cutoffs need only a 1-row
    * min/max per group). V(c) counts words whose FIRST document id ≤
    * cutoff c (one vocab-sized min-aggregation); N(c) sums per-doc
    * token counts with doc_id ≤ c (one doc-sized aggregation). Both
    * attach to the K cutoffs by a broadcast ≤-join with K-bounded
    * fanout. The β/log K fit is the same closed-form log-log least
    * squares as [[zipfFit]], decimal-detour sums over the K points;
    * checkpoints where V or N is still 0 carry no log and drop from
    * the fit (and the output).
    *
    * Output: (group, ckpt, cutoff_id, n_tokens, v_words, heaps_beta,
    * heaps_logk), one row per non-empty checkpoint, ordered
    * (group, ckpt). */
  def heapsFit(docs: DataFrame, groupCol: String, textCol: Column,
      checkpoints: Int = 10, idCol: String = "doc_id"): DataFrame = {
    require(checkpoints >= 2, s"need at least 2 checkpoints, got $checkpoints")
    // the exploded token frame feeds both the vocab first-seen and the
    // per-doc length aggregations; recomputing the codegen'd explode
    // from the columnar scan is CHEAPER than materializing the exploded
    // rows (measured at 100×/46M tokens: tracked 44.7 s vs recomputed
    // 22.0 s — the t64 lesson again), so it deliberately is not cached
    val toks = docs
      .select(col(groupCol), col(idCol).as("_id"), explode(textCol).as("_w"))
    val firstSeen = toks.groupBy(col(groupCol), col("_w"))
      .agg(min(col("_id")).as("_first"))
    val docLens = toks.groupBy(col(groupCol), col("_id"))
      .agg(count(lit(1)).as("_n"))
    val spans = docLens.groupBy(col(groupCol))
      .agg(min(col("_id")).as("_lo"), max(col("_id")).as("_hi"))
    val cuts = spans
      .select(col(groupCol),
        explode(sequence(lit(1L), lit(checkpoints.toLong))).as("ckpt"),
        col("_lo"), col("_hi"))
      // cutoff = lo + floor((hi-lo)·i/K): the division is DOUBLE in both
      // engines (Spark Column./ and DuckDB / are float division), same
      // operands → bit-identical quotient → identical floor
      .withColumn("cutoff_id",
        (col("_lo") + floor((col("_hi") - col("_lo")) * col("ckpt")
          / lit(checkpoints))).cast("long"))
      .select(col(groupCol), col("ckpt"), col("cutoff_id"))
    val vAt = cuts.join(firstSeen, Seq(groupCol))
      .filter(col("_first") <= col("cutoff_id"))
      .groupBy(col(groupCol), col("ckpt"), col("cutoff_id"))
      .agg(count(lit(1)).as("v_words"))
    val nAt = cuts.join(docLens, Seq(groupCol))
      .filter(col("_id") <= col("cutoff_id"))
      .groupBy(col(groupCol), col("ckpt"))
      .agg(sum(col("_n")).as("n_tokens"))
    val pts = vAt.join(nAt, Seq(groupCol, "ckpt"))
      .withColumn("x", log(col("n_tokens").cast("double")))
      .withColumn("y", log(col("v_words").cast("double")))
    def dsum(c: Column) = sum(c.cast(DecimalType(30, 6))).cast("double")
    val fit = pts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_k"),
        dsum(col("x")).as("_sx"), dsum(col("y")).as("_sy"),
        dsum(col("x") * col("x")).as("_sxx"), dsum(col("x") * col("y")).as("_sxy"))
      .withColumn("heaps_beta",
        (col("_k") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_k") * col("_sxx") - col("_sx") * col("_sx")))
      .withColumn("heaps_logk",
        (col("_sy") - col("heaps_beta") * col("_sx")) / col("_k"))
      .select(col(groupCol), col("heaps_beta"), col("heaps_logk"))
    pts.join(fit, Seq(groupCol))
      .select(col(groupCol), col("ckpt"), col("cutoff_id"),
        col("n_tokens"), col("v_words"), col("heaps_beta"), col("heaps_logk"))
      .orderBy(col(groupCol), col("ckpt"))
  }

  /** Bigram collocation extraction: pointwise mutual information
    * (Church & Hanks, "Word association norms, mutual information, and
    * lexicography", Computational Linguistics 1990) and Dunning's
    * log-likelihood ratio ("Accurate methods for the statistics of
    * surprise and coincidence", CL 1993) over the 2×2 contingency table
    * of adjacent-token bigrams, per group — the phrase-mining pass a
    * tokenizer designer runs before deciding which multi-word units
    * deserve vocabulary slots.
    *
    * Margins come from the bigram table itself (k11 = c(w1,w2), row
    * margin = c(w1,·), column margin = c(·,w2), N = bigram total), so
    * one explode feeds all four counts. PMI = ln(c12·N / (cm1·cm2));
    * LLR = 2·Σ_cells k·ln(k·N / (R·C)) — the observed/expected form,
    * NOT the textbook Σ k·ln k − Σ margins expansion: that expansion
    * cancels ~10⁶-scale terms down to an O(1) statistic, amplifying a
    * single-ulp ln() disagreement between JVM Math.log and DuckDB ln
    * ~10⁵× (measured 2.3e-10 absolute on an 8.0 statistic — past the
    * oracle's 10-significant-digit compare), while the per-cell form
    * keeps every term O(k·ln ratio) with no cancellation, so ulp noise
    * stays ~1e-14. Each term is a single double expression per row (no
    * accumulation, no detour needed) with an identical expression tree
    * on the oracle side.
    *
    * Scale shape: the only corpus-scale steps are the bigram explode
    * and its three partial-aggregated counts; the ≥ minCount filter
    * shrinks c12 BEFORE the margin joins, margins and totals are
    * vocab-/group-sized, and the top-N window ranks only surviving
    * candidates. Nothing corpus-sized is sorted, collected, or joined
    * n².
    *
    * Output: (group, w1, w2, c12, pmi, llr, rnk), rnk 1..topN per group
    * by (pmi desc, w1, w2), ordered (group, rnk). */
  def pmiCollocations(docs: DataFrame, groupCol: String, textCol: Column,
      minCount: Int, topN: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be positive, got $minCount")
    require(topN >= 1, s"topN must be positive, got $topN")
    // bigram construction as the codegen'd graft_bigram_pairs (r18 —
    // the graft_shingles lesson; the interpreted transform/struct chain
    // was the scan-stage cost). Bit-identical; under-2-token docs yield
    // an empty array, which explode drops — the same rows the old
    // size(sp) >= 2 filter removed.
    graft.functions.GraftExpressions.register(docs.sparkSession)
    val bg = docs
      .select(col(groupCol),
        explode(call_function("graft_bigram_pairs", textCol)).as("b"))
      .select(col(groupCol), col("b.w1"), col("b.w2"))
    val c12 = bg.groupBy(col(groupCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val m1 = bg.groupBy(col(groupCol), col("w1")).agg(count(lit(1)).as("cm1"))
    val m2 = bg.groupBy(col(groupCol), col("w2")).agg(count(lit(1)).as("cm2"))
    val tot = bg.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    // one contingency cell's k·ln(observed/expected); k, R, C integer
    // columns so the ratio's numerator/denominator are exact in double
    def term(k: Column, r: Column, c: Column) =
      when(k > 0, k.cast("double") *
        log((k * col("n")).cast("double") / (r * c).cast("double")))
        .otherwise(lit(0.0))
    val k12 = col("cm1") - col("c12")
    val k21 = col("cm2") - col("c12")
    val k22 = col("n") - col("cm1") - col("cm2") + col("c12")
    val r2 = col("n") - col("cm1")
    val cc2 = col("n") - col("cm2")
    val scored = c12
      .join(m1, Seq(groupCol, "w1"))
      .join(m2, Seq(groupCol, "w2"))
      .join(tot, Seq(groupCol))
      .withColumn("pmi", log((col("c12") * col("n")).cast("double") /
        (col("cm1") * col("cm2")).cast("double")))
      .withColumn("llr", lit(2.0) * (term(col("c12"), col("cm1"), col("cm2"))
        + term(k12, col("cm1"), cc2) + term(k21, r2, col("cm2"))
        + term(k22, r2, cc2)))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .filter(col("rnk") <= topN)
      .select(col(groupCol), col("w1"), col("w2"), col("c12"), col("pmi"),
        col("llr"), col("rnk").cast("long").as("rnk"))
      .orderBy(col(groupCol), col("rnk"))
  }

  /** Per-document character-level Shannon entropy (Shannon 1948) — the
    * compression-ratio proxy quality heuristic: machine-generated
    * boilerplate and template spam sit at LOW bits/char (repetitive),
    * base64/binary junk at HIGH (near the alphabet ceiling), natural
    * prose in a band between — the cheap scan-level signal pipelines
    * apply before any model-based scoring (the Gopher/C4 rule family's
    * information-theoretic member).
    *
    * Exactness: character counts are exact integers; each term
    * −p·ln p is one double expression; the per-doc SUM is an ordered
    * left fold over the char-sorted term list (`aggregate` /
    * `list_sum`, the v01 discipline) — bit-identical cross-engine with
    * NO decimal detour, so near-zero terms of dominated alphabets
    * survive (a DECIMAL(30,6) grid would zero them).
    *
    * Scale shape: one char explode + one (doc, char) count (both
    * partial-aggregated), per-doc lists are alphabet-sized. Output:
    * (doc_id, n_chars, n_distinct, entropy, bits_per_char), ascending
    * doc_id; empty texts are excluded (no distribution to score). */
  def charEntropy(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) > 0)
      .select(col("doc_id"), col("_t"),
        explode(sequence(lit(1), length(col("_t")))).as("i"))
      .select(col("doc_id"), expr("substring(_t, i, 1)").as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("ch"), col("cnt")))).as("_lst"))
      .withColumn("entropy", expr(
        """aggregate(_lst, CAST(0.0 AS DOUBLE),
          |  (acc, s) -> acc - (CAST(s.cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
          |    * ln(CAST(s.cnt AS DOUBLE) / CAST(n_chars AS DOUBLE)))""".stripMargin))
      .withColumn("bits_per_char", col("entropy") / lit(math.log(2.0)))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        col("entropy"), col("bits_per_char"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram NOVELTY — the fraction of a document's
    * distinct word n-grams that occur in no other document of the
    * corpus (document frequency exactly 1). The standard duplication/
    * templating read on a training corpus (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 measures
    * corpus health in exactly these cross-document n-gram terms): low
    * novelty = the document is assembled from text other documents
    * also carry (boilerplate, mirrors, near-dup survivors — candidates
    * the t05–t09 pair miners should have caught, so the score doubles
    * as their independent audit), high novelty = unique content. The
    * complement of t23's shared-gram index (which REPORTS the shared
    * grams; this scores each document by how little it overlaps).
    *
    * Scale shape: grams reduce to 8-byte xxhash64 keys before the
    * corpus-scale df count (the t23/t26 wire discipline — raw gram
    * strings never shuffle; a 64-bit collision would surface in the
    * raw-string oracle's counts), distinct-per-doc BEFORE the explode
    * leaves one row per (doc, gram); one df aggregation + one
    * doc-keyed rollup, both partial-aggregated map-side.
    *
    * Output: (doc_id, n_grams, n_novel, novel_frac) for every doc with
    * ≥ n tokens, doc order; novel_frac is one exact double division. */
  def novelGramRate(docs: DataFrame, n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    // read twice (df table + per-doc join) — persist one gram pass.
    // Deliberately NO size(_toks) row filter: short docs have an empty
    // gram array and the explode drops them anyway, while the filter
    // predicate — being deterministic — sinks through the repartition
    // into the parquet scan and runs the tokenizer serially on the
    // scan's (often single) split. Here that pass is noise (measured
    // A/B at 100×: 67.5 s with vs 69.6 s without — the gram-df join
    // dominates); in t73, whose filter wrapped the full perturbation
    // chain on two union branches, the same sink cost 277→3.6 s.
    val dg = tracked(docs
      .withColumn("_toks", graft.functions.TextFunctions.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("_toks"), n)).as("_g"))
      .select(col("doc_id"), xxhash64(col("_g")).as("gh")))
    val dfreq = dg.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    dg.join(dfreq, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Multi-pattern blocklist scan (Aho & Corasick, CACM 1975 — the
    * C4/Gopher badlist-filter primitive: C4 drops any page containing a
    * "List of Dirty, Naughty…" term; RefinedWeb/Gopher ship the same
    * shape with curated lists): for every document, how many DISTINCT
    * blocklist patterns occur as substrings and the 1-based character
    * position of the earliest match.
    *
    * Scale shape: the naive form runs one `contains` pass per pattern —
    * P scans of the text; [[graft.functions.BlocklistScan]] matches ALL
    * patterns in ONE automaton pass (O(|text| + matches),
    * dictionary-suffix links materialized at build, raw-UTF-8-byte fast
    * path), inside whole-stage codegen. Zero shuffles: one scan, one
    * projection, the output sort. MEASURED crossover (SURVEY.md; the
    * BlocklistAB harness is at commit 1451c40; 500k docs, min-of-3):
    * at P = 8 a short-circuiting contains-OR FILTER is still faster
    * (1.24 s vs 1.47 s — it exits on the first hit and computes no counts/positions, the automaton always
    * finishes the text to count every pattern); at P = 64 the automaton
    * wins 14.3× (1.20 s vs 17.21 s) and is ~flat in P where the naive
    * form scales linearly — and production badlists (C4's is ~400
    * terms) sit an order of magnitude past the crossover.
    *
    * Output: (doc_id, n_hit_patterns, first_hit_pos — -1 when clean,
    * flagged), doc order. */
  def blocklistScan(docs: DataFrame, patterns: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(patterns.forall(p => !p.contains('\t')),
      "patterns must not contain tabs (the literal wire format)")
    graft.functions.GraftExpressions.register(docs.sparkSession)
    val pats = patterns.mkString("\t").replace("'", "\\'")
    docs
      .withColumn("_b", expr(s"graft_blocklist($textCol, '$pats')"))
      .select(col(idCol).as("doc_id"),
        col("_b.n_patterns").cast("long").as("n_hit_patterns"),
        col("_b.first_pos").cast("long").as("first_hit_pos"))
      .withColumn("flagged", col("n_hit_patterns") > 0)
      .orderBy(col("doc_id"))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
    * Keyword Extraction from Individual Documents", in Text Mining:
    * Applications and Theory, 2010) — the per-document, corpus-free
    * keyword pass (t64's TextRank is the corpus-graph sibling; RAKE
    * needs no cross-document state at all, which is exactly why it
    * scales embarrassingly): candidate phrases are the maximal runs of
    * non-stopword tokens, each word is scored deg(w)/freq(w) over the
    * document's phrase occurrences (deg counts the full length of every
    * phrase containing w, so words that travel in long phrases outrank
    * loners), and a phrase scores the sum of its member word scores.
    *
    * Determinism: freq/deg are exact integers, the word score is one
    * exact double division, and the per-phrase sum goes through the
    * DECIMAL(30,6) detour ([[graft.queries.Num]]) so member order never
    * matters; ties in the final ranking break on the phrase string.
    *
    * Scale shape: everything is keyed by doc or by (doc, word) — one
    * per-doc running-count window (doc-sized partitions, the t24
    * discipline), one (doc, phrase-run) aggregation, one (doc, word)
    * aggregation joined back on (doc, word). No corpus-wide state, no
    * global sort; a 100 TB corpus is just more doc keys.
    *
    * Output: (doc_id, phrase, n_words, score, rnk) — top `topK`
    * distinct phrases per doc by (score DESC, phrase), doc order. Docs
    * whose tokens are all stopwords (or empty) have no candidates and
    * are absent. */
  def rakeKeywords(docs: DataFrame, stopwords: Seq[String], topK: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    require(stopwords.nonEmpty, "RAKE needs a stopword list to delimit phrases")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("j", "tok")))
      .withColumn("is_stop", col("tok").isInCollection(stopwords))
    // phrase id = running stopword count: tokens between two stopwords
    // share a run id; the window partitions by doc (doc-sized state).
    // MEASURED form (100x / 500k docs / 46M tokens, single-run): this
    // window + cached run table reads 63.4 s. The tempting alternatives
    // both lose: leaving the reused frames uncached recomputes the
    // explode+window per consumer (82.5 s), and computing the runs
    // entirely in the array world (stopword-boundary slices, no window)
    // reads 106-161 s — the projection-collapsed boundary array
    // re-inlines its O(n) expression into every element_at, so the
    // "shuffle-free" form does more per-row work than the shuffle it
    // saves. Windows for state the array can't see cheaply; cache what
    // three consumers share.
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("j"))
    val occ = tracked(toks
      .withColumn("grp", sum(when(col("is_stop"), 1L).otherwise(0L)).over(byPos))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("grp"), col("j"), col("tok")))
    // one row per phrase RUN (duplicate strings collapse only at the end,
    // after scoring -- RAKE's word stats count every occurrence)
    val runs = tracked(occ.groupBy(col("doc_id"), col("grp"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          s => s.getField("tok"))).as("phrase"),
        count(lit(1)).as("n_words")))
    // deg(w) = sum of containing-run lengths; freq(w) = occurrence count
    val wordScore = occ.join(runs, Seq("doc_id", "grp"))
      .groupBy(col("doc_id"), col("tok"))
      .agg((sum(col("n_words")).cast("double") / count(lit(1))).as("wscore"))
    val scored = occ
      .join(wordScore, Seq("doc_id", "tok"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(graft.queries.Num.dsum(col("wscore")).as("score"))
      .join(runs, Seq("doc_id", "grp"))
      .select(col("doc_id"), col("phrase"), col("n_words"), col("score"))
      .distinct()
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("phrase"))
    scored
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= topK)
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Good-Turing frequency re-estimation (Good, Biometrika 1953; the
    * count-of-counts table behind Katz backoff and the classic "how
    * much probability mass belongs to unseen words" answer): per
    * group, tabulate N_r = #{words seen exactly r times}, the Turing
    * estimate r* = (r+1)·N_{r+1}/N_r, and the unseen mass p₀ = N_1/N —
    * the diagnostic read before choosing vocabulary cutoffs or
    * smoothing discounts (and the honest companion to
    * [[kneserNeyScore]]'s fixed absolute discount).
    *
    * Simple (unsmoothed) Good-Turing: where N_{r+1} = 0 the estimate
    * is NULL rather than an extrapolation — the operator reports the
    * raw table, not a fitted curve (t61's Zipf fit is the curve
    * family's member). Everything is exact integer counting plus one
    * double division per row, so the table replays bit-identically.
    *
    * Scale shape: one corpus-scale token count, one vocab-sized
    * frequency-of-frequencies aggregation, both partial-aggregated;
    * the output is maxR rows per group.
    *
    * Input: `unitsCol` — an ARRAY column of the units to count (word
    * tokens, bigrams, n-grams: the caller picks the event space).
    * Output: (group, r, n_r, r_star, n_tokens, p_unseen), r = 1..maxR,
    * ordered (group, r). */
  def goodTuring(docs: DataFrame, groupCol: String, unitsCol: Column,
      maxR: Int): DataFrame = {
    require(maxR >= 1, s"maxR must be positive, got $maxR")
    // The unit string never reaches the output (only its frequency
    // does), so reduce it to an 8-byte xxhash64 key BEFORE the
    // corpus-scale count shuffle — the t23/t26 discipline: raw n-gram
    // strings are the dominant wire bytes, and the count table is
    // identical absent a 64-bit collision (which the oracle hash gate,
    // grouping by the RAW strings, would surface as a count mismatch).
    val freq = docs
      .select(col(groupCol), explode(unitsCol).as("w"))
      .groupBy(col(groupCol), xxhash64(col("w")).as("w"))
      .agg(count(lit(1)).as("r"))
    val nr = freq.groupBy(col(groupCol), col("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = freq.groupBy(col(groupCol))
      .agg(sum(col("r")).as("n_tokens"))
    val nextNr = nr.select(col(groupCol), (col("r") - 1).as("r"),
      col("n_r").as("n_r1"))
    nr.filter(col("r") <= maxR)
      .join(nextNr, Seq(groupCol, "r"), "left")
      .join(tot, Seq(groupCol))
      .select(col(groupCol), col("r"), col("n_r"),
        ((col("r") + 1).cast("double") * col("n_r1").cast("double")
          / col("n_r").cast("double")).as("r_star"),
        col("n_tokens"),
        (when(col("r") === 1, col("n_r")).otherwise(lit(0L)).cast("double")
          / col("n_tokens").cast("double")).as("p_unseen"))
      .withColumn("p_unseen",
        max(col("p_unseen")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))))
      .orderBy(col(groupCol), col("r"))
  }

  /** Interpolated Kneser-Ney bigram language model (Kneser & Ney,
    * ICASSP 1995; Chen & Goodman, "An empirical study of smoothing
    * techniques for language modeling", Harvard TR-10-98) trained per
    * group on `train` and scored per document on `heldOut` — the
    * smoothing family KenLM ships and CCNet's quality buckets are built
    * on, upgrading the unsmoothed unigram LM of t17 to the standard:
    *
    *   P(w₂|w₁) = (max(c(w₁w₂) − D, 0) + D·N₁₊(w₁·)·P_cont(w₂)) / c(w₁·)
    *   P_cont(w₂) = N₁₊(·w₂) / N₁₊(··)
    *
    * where N₁₊ counts distinct bigram TYPES (how many contexts a word
    * continues — "Francisco" is frequent but follows only "San", so its
    * continuation probability is tiny; that asymmetry is the whole
    * point of KN). Absolute discount D = 0.75, the Chen-Goodman
    * default.
    *
    * Scoring of a held-out bigram (w₁, w₂), all cases exercised by the
    * held-out split by construction:
    *   - w₂ has no continuation count (never seen as a bigram's second
    *     element in train) → OOV: excluded from the mean, counted in
    *     `n_oov` — the KenLM convention of reporting OOVs beside the
    *     score rather than folding an arbitrary unk-mass into it;
    *   - w₁ has no context count (unseen, or train-doc-final only) →
    *     no conditioning mass exists: back off entirely to P_cont(w₂);
    *   - otherwise the interpolated estimate above (c(w₁w₂) = 0 rides
    *     the same formula: max(0−D,0) = 0 leaves the continuation
    *     term).
    *
    * Determinism: every per-bigram logp is one double expression over
    * exact BIGINT counts (IEEE-identical across engines, matching
    * expression trees — the oracle mirrors the parenthesization); only
    * the per-document mean crosses an aggregation, and it rides
    * [[graft.queries.Num.davg]]'s decimal detour. |ln p| terms are O(1)
    * to O(ln N₁₊(··)) — at or above the 10⁻⁶ grid except where p → 1,
    * which quantizes to 0 identically in both engines.
    *
    * Scale shape: corpus-scale work is two bigram explodes and their
    * counts (partial-aggregated). The model tables are bigram-TYPE- and
    * vocab-sized — KenLM-model-sized, NOT corpus-sized, but also not
    * assumed broadcastable: scoring joins are plain equi-joins on
    * (group, w1[, w2]) that AQE may broadcast when the model is small
    * and shuffle when it is not. Nothing collects to the driver.
    *
    * Output: (group, doc_id, n_bigrams, n_oov, mean_logp, ppl), one row
    * per held-out doc with ≥ 2 tokens, ordered (group, doc_id);
    * `ppl` = exp(−mean_logp), NULL when every bigram was OOV. */
  def kneserNeyScore(train: DataFrame, heldOut: DataFrame, groupCol: String,
      idCol: String, textCol: Column, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"absolute discount must sit in (0,1), got $discount")
    // bigram construction as the codegen'd graft_bigram_pairs (r18 —
    // the graft_shingles lesson): both the train-side model counts and
    // the held-out scoring explode ride it. Bit-identical to the
    // interpreted transform/struct chain; under-2-token docs yield an
    // empty array, which explode drops — the same rows the old
    // size(sp) >= 2 filter removed.
    graft.functions.GraftExpressions.register(train.sparkSession)
    def bigrams(docs: DataFrame, extra: Seq[Column]): DataFrame = docs
      .select(extra :+ col(groupCol) :+
        explode(call_function("graft_bigram_pairs", textCol)).as("b"): _*)
      .select(extra :+ col(groupCol) :+ col("b.w1") :+ col("b.w2"): _*)

    val c12 = bigrams(train, Seq.empty)
      .groupBy(col(groupCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val ctx = c12.groupBy(col(groupCol), col("w1"))
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("n1p1"))
    val cont = c12.groupBy(col(groupCol), col("w2"))
      .agg(count(lit(1)).as("n1p2"))
    val nTypes = c12.groupBy(col(groupCol))
      .agg(count(lit(1)).as("ntypes"))

    val pcont = col("n1p2").cast("double") / col("ntypes")
    val interp = (greatest(coalesce(col("c"), lit(0L)).cast("double")
        - discount, lit(0.0))
      + (lit(discount) * col("n1p1").cast("double")) * pcont) /
      col("c1").cast("double")
    // left joins throughout: a held-out doc whose group has NO training
    // bigrams at all must still emit its all-OOV row (n_oov = n_bigrams,
    // NULL mean/ppl), not vanish — an inner join on the model tables
    // would silently drop exactly the docs the OOV convention exists for
    bigrams(heldOut, Seq(col(idCol).as("doc_id")))
      .join(nTypes, Seq(groupCol), "left")
      .join(cont, Seq(groupCol, "w2"), "left")
      .join(ctx, Seq(groupCol, "w1"), "left")
      .join(c12, Seq(groupCol, "w1", "w2"), "left")
      .withColumn("logp",
        when(col("n1p2").isNull, lit(null).cast("double"))
          .when(col("c1").isNull, log(pcont))
          .otherwise(log(interp)))
      .groupBy(col(groupCol), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (count(lit(1)) - count(col("logp"))).as("n_oov"),
        graft.queries.Num.davg(col("logp")).as("mean_logp"))
      .withColumn("ppl", exp(-col("mean_logp")))
      .orderBy(col(groupCol), col("doc_id"))
  }

  /** EXACT per-group median + MAD (median absolute deviation) with
    * robust-z outlier flags — the robust-statistics quality filter
    * (mean/stddev break under the heavy-tailed score distributions web
    * corpora actually have; median/MAD is the standard robust cut,
    * e.g. `|v − med| > 3·MAD`).
    *
    * Exactness WITHOUT a per-group sort: a per-group median is the
    * classic few-huge-groups trap — `Window.partitionBy(lang)` puts an
    * entire language in ONE task, which at 100 TB is most of the
    * corpus. This computes the exact k-th order statistics by
    * HISTOGRAM REFINEMENT instead (the distributed-selection
    * algorithm): (1) one aggregation builds per-group bucket counts
    * (`floor(v·B)`, clamped), collected to the driver — bounded at
    * groups × B rows, INDEPENDENT of corpus size; (2) the driver walks
    * each group's cumulative histogram to locate the bucket and
    * within-bucket rank of the k₁=(n+1)/2 and k₂=(n+2)/2 smallest
    * values; (3) one semi-join + window ranks ONLY the candidate
    * buckets (expected n/B rows per group — thousands, not billions)
    * and picks the two values; median = (v₁+v₂)/2. The MAD pass runs
    * the same machinery over |v − med|. Degenerate distributions
    * (most of a group in one bucket) degrade the refinement partition
    * toward n — recursing the histogram into the candidate bucket is
    * the standard fix if a corpus ever hits it; scores here spread
    * over ~10³ buckets.
    *
    * Values must be non-NaN and (for useful bucketing) in [0, 1] —
    * out-of-range values clamp into the edge buckets, which stays
    * EXACT (refinement ranks by the true value) but concentrates the
    * refinement. Null group keys, null values, and NaN values are
    * REJECTED with a loud error (ADVICE r16: they previously either
    * NPE'd the driver walk or silently dropped rows through the
    * null-never-equal joins) — filter or impute before calling. Ties
    * are handled by selecting the k-th VALUE, which is invariant to
    * tie order. Returns `df` plus `med`, `mad`, `is_outlier`
    * (`|v − med| > 3·mad`). Every output replays bit-for-bit in SQL:
    * (v₁+v₂)/2 and the 3·mad compare are the same IEEE operations on
    * both sides.
    *
    * The "bounded, corpus-size-independent" driver state is groups ×
    * occupied-buckets: it presumes a LOW-cardinality grouping column
    * (language, source, quality tier — ≲10³ groups). A per-user or
    * per-document key turns the collect into groups × B rows; the
    * histogram collect is capped (~4M tuples) and aborts with a clear
    * error naming the group count rather than exhausting the driver.
    */
  /** Upper bound on the (group, bucket) cells [[groupMedianMad]] pulls
    * to the driver per refinement pass — the LIMIT below caps the
    * transfer at this + 1 so the gate fires BEFORE driver exhaustion. */
  private val MaxHistCells = 4_000_000

  def groupMedianMad(df: DataFrame, groupCol: String, valueCol: String,
      buckets: Int = 1 << 14): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._

    // NaN and null both route to a null bucket so the precondition
    // check below catches them (greatest/least IGNORE null operands —
    // without the explicit branch a null value silently clamps into
    // the top bucket and flows on)
    def bucketOf(v: Column): Column =
      when(v.isNull || isnan(v), lit(null))
        .otherwise(greatest(lit(0), least(lit(buckets - 1), floor(v * buckets))))
        .cast("int")

    // exact (k1, k2) smallest-value selection per group → (group, med)
    // where med = (v@k1 + v@k2) / 2
    def selectMedian(src: DataFrame, vCol: String, outCol: String): DataFrame = {
      // group keys travel driver-side and through the target joins in a
      // canonical STRING form, so any group type (string, int, date …)
      // works; the output stays keyed by the original column
      val gkey = col(groupCol).cast("string")
      // LIMIT caps the DRIVER transfer at the gate's bound + 1, so a
      // high-cardinality group column aborts via the require below
      // instead of exhausting the driver inside collect() — the
      // executors compute the aggregate either way, but the driver
      // never receives more than it can check
      val histRows = src
        .groupBy(gkey.as("_g"), bucketOf(col(vCol)).as("_b"))
        .agg(count(lit(1)).as("_c"))
        .limit(MaxHistCells + 1)
        .collect() // bounded: groups × buckets, corpus-size-independent
      // precondition gate (ADVICE r16): a null group key or null/NaN
      // value would NPE the rank walk or silently drop rows in the
      // null-never-equal candidate joins — fail loudly instead. The
      // aggregated frame makes this check free (no extra pass).
      histRows.find(r => r.isNullAt(0) || r.isNullAt(1)).foreach { r =>
        val what =
          if (r.isNullAt(0)) s"null $groupCol group key"
          else s"null or NaN $vCol value in group '${r.getString(0)}'"
        throw new IllegalArgumentException(
          s"groupMedianMad: $what found (${r.getLong(2)} rows) — " +
            "filter or impute nulls/NaNs before calling")
      }
      // cardinality gate: driver state is groups × occupied buckets —
      // a high-cardinality group column (user_id, doc_id) is the wrong
      // tool (use approx percentile or per-key aggregation instead)
      require(histRows.length <= MaxHistCells,
        s"groupMedianMad: histogram exceeds $MaxHistCells (group, bucket) " +
          s"cells — groupCol '$groupCol' cardinality is too high for " +
          "driver-side refinement; use a low-cardinality key. NOTE: the " +
          "null/NaN precondition was only checked on the retained subset " +
          "(the LIMIT fired), so bad values may also be present (ADVICE r17)")
      val hist = histRows.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val targets = hist.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        val byBucket = rows.sortBy(_._2)
        val n = byBucket.map(_._3).sum
        def locate(k: Long): (Int, Long) = {
          var cum = 0L
          for ((_, b, c) <- byBucket) {
            if (k <= cum + c) return (b, k - cum)
            cum += c
          }
          throw new IllegalStateException(s"rank $k > group size $n for $g")
        }
        Seq((n + 1) / 2, (n + 2) / 2).zipWithIndex.map { case (k, w) =>
          val (b, rk) = locate(k)
          (g, b, rk, w)
        }
      }
      val tgt = targets.toDF("_g", "_b", "_rk", "_w")
      val candidates = src
        .withColumn("_b", bucketOf(col(vCol)))
        .join(broadcast(tgt.select(col("_g"), col("_b")).distinct()
          .withColumnRenamed("_b", "_tb")),
          gkey === col("_g") && col("_b") === col("_tb"), "leftsemi")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol), col("_b")).orderBy(col(vCol))
      val ranked = candidates.withColumn("_rn", row_number().over(w).cast("long"))
      ranked
        .join(broadcast(tgt.withColumnRenamed("_b", "_jb")),
          gkey === col("_g") &&
            col("_b") === col("_jb") && col("_rn") === col("_rk"))
        .groupBy(col(groupCol))
        // always exactly two target rows per group (k1 == k2 duplicates
        // the same pick), so sum/2 IS (v@k1 + v@k2)/2
        .agg((sum(col(vCol)) / 2.0).as(outCol))
    }

    val med = selectMedian(df, valueCol, "med")
    val withMed = df.join(broadcast(med), Seq(groupCol))
      .withColumn("_dev", abs(col(valueCol) - col("med")))
    val mad = selectMedian(withMed, "_dev", "mad")
    withMed
      .join(broadcast(mad), Seq(groupCol))
      .withColumn("is_outlier", col("_dev") > lit(3.0) * col("mad"))
      .drop("_dev")
  }
}
