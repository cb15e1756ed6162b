package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.Num.dsum

/** Rank-fusion algebra for hybrid retrieval. */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, "Reciprocal
    * Rank Fusion outperforms Condorcet and individual Rank Learning
    * Methods", SIGIR 2009) — the standard way to combine a lexical
    * (BM25) and a vector ranking into one hybrid result without score
    * calibration:
    *
    *   `rrf(d) = Σ_systems 1 / (kRrf + rank_s(d))`
    *
    * summed over the systems that ranked `d` at all (an absent doc
    * contributes nothing — no rank imputation, per the paper). Ranks are
    * data, scores are never compared across systems, which is the whole
    * point: BM25 scores and cosine similarities live on incomparable
    * scales.
    *
    * Each input frame is one system's ranked list: (`idCol`, `rankCol`)
    * with rank 1-based. The per-doc sum goes through the DECIMAL(30,6)
    * detour so it is accumulation-order independent (systems' rows meet
    * in one shuffle; a plain double sum would be order-sensitive), and
    * the final order is the deterministic (rrf desc, id asc).
    *
    * Scale shape: a union of the (tiny) per-system top-N lists, one
    * partial+final aggregate on the doc id, and a bounded TakeOrdered —
    * the fused frame never exceeds Σ topN rows, regardless of corpus
    * size (the systems' own top-N machinery bounds what enters).
    *
    * Output: (idCol, n_systems, rrf), the `topK` best. */
  def rrfFuse(systems: Seq[DataFrame], idCol: String, rankCol: String,
      kRrf: Int = 60, topK: Int = 20): DataFrame = {
    require(systems.nonEmpty, "rrfFuse needs at least one ranked system")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    require(topK > 0, s"topK must be positive, got $topK")
    val contribs = systems
      .map(df => df.select(col(idCol),
        (lit(1.0) / (lit(kRrf) + col(rankCol))).as("_c")))
      .reduce(_ unionByName _)
    contribs.groupBy(col(idCol))
      // Magnitude bound (the Num.dsum precondition): every summand is
      // 1/(kRrf + rank) ≥ 1/(kRrf + topN) — ~1/110 at the defaults,
      // and bounded below by the callers' finite list lengths, four
      // orders above the 10⁻⁶ grid.
      .agg(count(lit(1)).as("n_systems"),
        dsum(col("_c")).as("rrf"))
      .orderBy(desc("rrf"), col(idCol))
      .limit(topK)
  }

  /** One term's BM25 contribution (Robertson idf·w) — the ONE definition
    * of the scoring formula, shared by the in-memory scorer (the t31
    * query) and the persisted-index probe, so the two can never drift.
    * All operands are exact integers widened at fixed points, so the
    * double result is bit-identical wherever the same (tf, df, dl,
    * n_docs, total_dl) meet it. */
  def bm25Contribution(tf: Column, df: Column, dl: Column,
      nDocs: Column, totalDl: Column, k1: Double, b: Double): Column = {
    val avgdl = totalDl.cast("double") / nDocs
    val idf = log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    val w = tf * lit(k1 + 1) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
    idf * w
  }

  /** Persisted BM25 inverted index — the serving lifecycle of lexical
    * retrieval (the t31 scorer's analogue of the PQ/IVF index pair):
    * tokenize and count ONCE at build, probe per query against the
    * posting lists alone.
    *
    * Layout under `dir`:
    *  - `postings/` — (doc_id, term, tf), partitioned by
    *    `bucket = xxhash64(term) mod nBuckets`, so a probe's partition
    *    filter prunes every bucket its query terms don't hash to (the
    *    inverted-index property, expressed as partition pruning);
    *  - `df/` — (term, df), bucketed identically;
    *  - `dl/` — (doc_id, dl) document lengths;
    *  - `params.json` — nBuckets/k1/b plus the exact corpus stats
    *    (n_docs, total_dl) so probes score without touching `dl`'s
    *    aggregate again.
    *
    * At 100 TB the build is one explode + one (doc_id, term) shuffle;
    * probes read only the query terms' buckets. */
  def buildBm25Index(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      dir: String, nBuckets: Int = 32,
      k1: Double = 1.2, b: Double = 0.75): Unit =
    graft.util.CacheRegistry.time(spark, "index_build") {
      require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
      import graft.functions.TextFunctions.tokens
      // Rebuild atomicity: params.json is the index's validity marker
      // (probes fail loudly without it), but postings/df/dl are
      // overwritten BEFORE it is rewritten — so delete it first, or a
      // rebuild that dies mid-way leaves a probe-able index whose corpus
      // stats are stale relative to the new postings and probes score
      // silently wrong. With the marker gone, the failure window fails
      // loudly instead.
      locally {
        val marker = new org.apache.hadoop.fs.Path(s"$dir/params.json")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(marker)) fs.delete(marker, false)
      }
      // ONE tokenize pass over the corpus (r19): the old build ran the
      // split+filter tokenizer three times — the dl write, the postings
      // write, and the stats agg (whose plan re-derived dl from `docs`).
      // Everything except the postings themselves now derives from the
      // WRITTEN postings (the buildPqIndex read-back discipline: probes
      // consume exactly what df counted): dl = Σ tf per doc is
      // bit-identical to tokenCount(text) by construction — every token
      // is exactly one exploded row, `tokens` drops empties, and a
      // 0-token doc appears in neither frame — and the corpus stats
      // aggregate the tiny written dl table instead of re-tokenizing.
      val postings = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)))
      postings.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/postings")
      val written = spark.read.parquet(s"$dir/postings")
      written.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .write.mode("overwrite").parquet(s"$dir/dl")
      written
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/df")
      val stats = spark.read.parquet(s"$dir/dl")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl")).head()
      graft.io.ParamsFile.write(spark, dir, "n_buckets" -> nBuckets, "k1" -> k1, "b" -> b,
        "n_docs" -> stats.getLong(0), "total_dl" -> stats.getLong(1))
    }

  /** BM25 top-k for `queryTerms` against the persisted index at `dir` —
    * bit-identical to the in-memory scorer over the same corpus and
    * parameters (same [[bm25Contribution]], same exact integers, same
    * decimal-detour sum; the t53 oracle is t31's VERBATIM). Reads only
    * the buckets the query terms hash to (partition pruning) plus the
    * `dl` side table; corpus stats come from `params.json`. */
  def bm25AgainstIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    require(queryTerms.distinct == queryTerms, "query terms must be distinct")
    require(k > 0, s"k must be positive, got $k")
    val p = readBm25Params(spark, dir)
    import spark.implicits._
    // bucket values via the engine's own xxhash64 (one tiny local job —
    // no dependence on hash internals)
    val buckets = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(p.nBuckets)).as("bucket"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(queryTerms: _*))
    val dfreq = spark.read.parquet(s"$dir/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(queryTerms: _*))
      .select(col("term"), col("df"))
    val dl = spark.read.parquet(s"$dir/dl")
    postings
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .withColumn("contrib", bm25Contribution(col("tf"), col("df"), col("dl"),
        lit(p.nDocs), lit(p.totalDl), p.k1, p.b))
      .groupBy(col("doc_id"))
      // Magnitude bound (the Num.dsum precondition): contributions are
      // idf·w with w ∈ (0, k1+1); idf ≈ 1.5/n_docs for a term in EVERY
      // doc, which falls below the 10⁻⁶ grid past ~10⁶ docs — but such a
      // term's true contribution is negligible against any
      // discriminative term's O(1), so zeroing it is semantically a
      // no-op (bounded by the value itself), not a q34-style mass loss.
      .agg(count(lit(1)).as("n_terms_hit"),
        dsum(col("contrib")).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(k)
  }

  private final case class Bm25Params(nBuckets: Int, k1: Double, b: Double,
      nDocs: Long, totalDl: Long)

  /** Params as the index declares them — probing a dir that is not a
    * BM25 index fails loudly (the readPqParams discipline). */
  private def readBm25Params(spark: org.apache.spark.sql.SparkSession,
      dir: String): Bm25Params = {
    val num = graft.io.ParamsFile.read(spark, dir, "BM25")
    Bm25Params(num("n_buckets").toInt, num("k1").toDouble, num("b").toDouble,
      num("n_docs").toLong, num("total_dl").toLong)
  }
}
