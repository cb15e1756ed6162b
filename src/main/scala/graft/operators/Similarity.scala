package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions
import graft.queries.Num.{davg, dsum}
import graft.util.Fixpoint

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers:
  *  - [[cosineTopK]] — exact brute force: broadcast the (small) query set,
  *    stream the vector table once, codegen'd dot product
  *    ([[graft.functions.DotProduct]]), per-query top-k via the bounded
  *    [[graft.functions.TopK]] aggregate (partial+final — no task ever
  *    holds more than k candidates per query). This is the correctness
  *    baseline and the right plan for "few queries × huge corpus" at
  *    cluster scale: one scan, and only k-element buffers cross the
  *    shuffle.
  *  - [[lshTopK]] — random-hyperplane LSH: 16-bit sign signatures bucket
  *    the corpus; each query only scores its own bucket plus Hamming-1
  *    neighbors. Sub-linear candidate volume; recall measured against the
  *    brute-force baseline in tests.
  */
object Similarity {

  /** Embeddings with double-precision vector `v` and L2 norm `nrm`.
    * Floats are widened to double *before* any arithmetic so results are
    * bit-identical to DuckDB's double pipeline. */
  def normed(emb: DataFrame): DataFrame =
    emb
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .drop("embedding")

  /** Ranks scored candidates (query_id, neighbor_id, cos_sim) to the k
    * best per query via the bounded [[graft.functions.TopK]] aggregate:
    * each input partition reduces to ≤ k rows per query map-side
    * (ObjectHashAggregate partial), only k-element buffers shuffle, and
    * the final merge is tiny. Spark 4's own `InferWindowGroupLimit`
    * gets the `row_number().over(...)` + rank-filter form most of the
    * way there (a Partial WindowGroupLimit before the exchange also
    * bounds shuffled rows to parts·k — verified on this build), but it
    * still fully SORTS every map partition's candidates first
    * (O(n log n) per partition + the post-shuffle re-sort); the heap
    * inserts in O(n log k) with no sort at all. Same total order
    * (cos_sim desc, neighbor_id asc), so results are identical. */
  private def topKRank(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(expr(s"graft_topk(neighbor_id, cos_sim, $k)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "nb")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rank"),
        col("nb.neighbor_id").as("neighbor_id"), col("nb.cos_sim").as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries
    * selects the query set). Output: (query_id, rank, neighbor_id,
    * cos_sim), rank 1..k per query. */
  def cosineTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    cosineTopKForQueries(spark, emb, col("vec_id") < nQueries, k)

  /** Exact top-k for an arbitrary query predicate — the sampled-baseline
    * building block: at corpus scale a FULL exact baseline per run
    * conflates recall measurement with serving cost, so the recall gate
    * can instead cover a deterministic hash-sample of the queries
    * (unsampled queries carry null `recall_at_k` through
    * [[withMeasuredRecall]]'s full-outer join — see the v03/v04 queries). */
  /** Corpora below this optimizer-estimated size rank through the
    * single-job crossJoin form; at/above it, through the fused
    * multi-query kernel. The branch is a measured function of size
    * (the m08 discipline, both branches bit-identical): the fused path
    * costs TWO jobs (a bounded query-collect + the aggregate pass,
    * ~0.2 s fixed each on local[32]) which a sub-MB corpus cannot
    * amortize — v01 read 0.27 s crossJoined vs 0.65 s fused at sf0.1 —
    * while at deployment sizes the crossJoin's |corpus|·Q materialized
    * pair rows are dimension-independent overhead that dominates the
    * flops: 3.2–4.3 s vs 1.3 s at 128k × 512 dims × 100 queries
    * (SURVEY §8.-9; the WideEmb harness is at commit 1451c40). */
  private[graft] val FusedKernelMinBytes: Long = 64L << 20

  private def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  def cosineTopKForQueries(spark: SparkSession, emb: DataFrame,
      queryPred: Column, k: Int): DataFrame =
    cosineTopKForQueriesImpl(spark, emb, queryPred, k,
      fused = estimatedBytes(emb) >= FusedKernelMinBytes)

  private[graft] def cosineTopKForQueriesImpl(spark: SparkSession, emb: DataFrame,
      queryPred: Column, k: Int, fused: Boolean): DataFrame = {
    GraftExpressions.register(spark)
    // ONE canonical evaluation point for queryPred in BOTH branches:
    // the RAW emb frame, full schema (metadata predicates like
    // `col("is_query")` keep working). The branches used to differ
    // (fused filtered raw emb; crossJoin filtered normed(emb), where
    // 'embedding' is dropped and 'v'/'nrm' exist) — and the branch
    // flips implicitly at [[FusedKernelMinBytes]], so a predicate
    // valid on one shape (or an int-typed vec_id hitting the fused
    // getLong) would work at one corpus size and throw at another.
    // After the filter, both sides canonicalize to
    // (vec_id: long, embedding): both branches emit LongType ids
    // regardless of the input's integer width.
    def canon(df: DataFrame): DataFrame =
      df.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val embc = canon(emb)
    val qc = canon(emb.filter(queryPred))
    if (!fused) {
      // single-job form: corpus × broadcast(queries) → graft_dot →
      // bounded graft_topk heaps (filter∘norm ≡ norm∘filter row-wise,
      // so norming the filtered queries is exact)
      val n = normed(embc)
      val q = normed(qc)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      return topKRank(
        n.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim")),
        k)
    }
    // ONE corpus pass through the fused multi-query kernel
    // (graft_multiq_topk): the crossJoin form materializes |corpus|·Q
    // joined rows before any dot runs — dimension-independent per-pair
    // row assembly that dominates the flops at deployment widths. The
    // aggregate scores all Q queries per corpus row over primitive
    // arrays and ships only Q·k heap buffers; scores are bit-identical
    // to the join form (same dot order, same nrm, same
    // `dot / (nrmV * nrmQ)`, same heap), so the v01/v03/v04 oracles
    // are unchanged by the branch. The query set is collected —
    // bounded, the same contract the broadcast carried — and travels
    // as one binary literal.
    val queries = qc
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .toSeq
    if (queries.isEmpty) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType), StructField("rank", LongType),
          StructField("neighbor_id", LongType), StructField("cos_sim", DoubleType))))
    }
    val blob = graft.functions.MultiQTopK.encodeQueries(queries)
    embc
      .agg(expr(s"graft_multiq_topk(vec_id, embedding, '$blob', $k)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.query_id").as("query_id"), col("e.rank").as("rank"),
        col("e.neighbor_id").as("neighbor_id"), col("e.cos_sim").as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Matryoshka-style two-stage retrieval (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022 — MRL embeddings pack a
    * usable coarse representation into every PREFIX of the vector, so
    * retrieval systems first-pass-rank on a short prefix and re-rank
    * survivors at full width; OpenAI/Nomic "shortening" embeddings ship
    * exactly this contract): stage 1 scores every corpus vector against
    * each query on the first `prefixDims` dimensions only and keeps the
    * top k·overfetch per query; stage 2 re-scores ONLY those survivors
    * with the exact full-dimension cosine and returns the top k.
    *
    * Scale shape: stage 1 is the only corpus-sized pass and touches
    * prefixDims/d of the vector bytes (at d=512, prefix 64 → 8× less
    * vector IO and multiply work than the exact baseline; on a
    * column-pruned prefix projection the scan itself shrinks); its
    * per-query state is a bounded k·overfetch heap
    * ([[graft.functions.TopK]] — map-side partial, only heap buffers
    * shuffle). Stage 2 is (k·overfetch)-per-query sized — corpus-free.
    * Recall is the MRL bet (prefix ordering ≈ full ordering at the
    * overfetch margin), measured per-corpus in SimilaritySpec rather
    * than assumed. Deterministic: both stages order by
    * (score DESC, neighbor_id ASC); an all-zero prefix scores -1
    * (sorting such vectors last, mirrored in the oracle) so 0/0 never
    * reaches the ranking. Output: (query_id, rank, neighbor_id,
    * cos_sim — the FULL-width exact cosine), rank 1..k. */
  def matryoshkaTopK(spark: SparkSession, emb: DataFrame, nQueries: Int,
      k: Int, prefixDims: Int, overfetch: Int = 4): DataFrame =
    matryoshkaTopKImpl(spark, emb, nQueries, k, prefixDims, overfetch,
      fused = estimatedBytes(emb) >= FusedKernelMinBytes)

  private[graft] def matryoshkaTopKImpl(spark: SparkSession, emb: DataFrame,
      nQueries: Int, k: Int, prefixDims: Int, overfetch: Int,
      fused: Boolean): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be positive, got $prefixDims")
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    GraftExpressions.register(spark)
    val q = normed(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    // Stage 1 NEVER touches the full-width vector: the prefix is sliced
    // from the RAW float array and only then widened to double
    // (elementwise slice∘cast ≡ cast∘slice — the first cut derived pv
    // from normed()'s full-width double `v`, and CollapseProject
    // re-inlined the d-wide cast into every per-query dot under the
    // crossJoin, making the "prefix" pass 3× slower than exact at
    // d=512: SURVEY §8.-9). Above [[FusedKernelMinBytes]] the pass
    // runs through the fused multi-query kernel (no |corpus|·Q pair
    // rows at all); below it, the single-job crossJoin form — both
    // branches bit-identical, zeroScore -1.0 preserving the documented
    // zero-prefix-sorts-last contract (mirrored in the oracle).
    val stage1 =
      if (fused) {
        val qPrefix = emb.filter(col("vec_id") < nQueries)
          .select(col("vec_id").cast("long").as("vec_id"),
            transform(slice(col("embedding"), 1, prefixDims),
              x => x.cast("double")).as("qpv"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
          .toSeq
        val blob = graft.functions.MultiQTopK.encodeQueries(qPrefix)
        emb
          .select(col("vec_id"), slice(col("embedding"), 1, prefixDims).as("pv"))
          .agg(expr(s"graft_multiq_topk(vec_id, pv, '$blob', ${k * overfetch}, -1.0D)")
            .as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.query_id").as("query_id"),
            col("e.neighbor_id").as("neighbor_id"))
      } else {
        val pre = emb
          .withColumn("pv", transform(slice(col("embedding"), 1, prefixDims),
            x => x.cast("double")))
          .withColumn("pnrm", sqrt(expr("graft_dot(pv, pv)")))
        val qp = pre.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("pv").as("qpv"),
            col("pnrm").as("qpnrm"))
        topKRank(
          pre.select(col("vec_id"), col("pv"), col("pnrm"))
            .crossJoin(broadcast(qp))
            .filter(col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              when(col("pnrm") === 0d || col("qpnrm") === 0d, lit(-1.0))
                .otherwise(expr("graft_dot(pv, qpv)") / (col("pnrm") * col("qpnrm")))
                .as("cos_sim")),
          k * overfetch)
          .select(col("query_id"), col("neighbor_id"))
      }
    // stage 2: exact full-width cosine on the survivors only — the join
    // runs on the RAW embedding and the full-width double cast is
    // applied AFTER it, so only k·overfetch·Q survivor rows pay it
    topKRank(
      stage1
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
        .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qnrm"))), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim")),
      k)
  }

  /** MMR-diversified top-k retrieval (Carbonell & Goldstein, SIGIR 1998
    * — Maximal Marginal Relevance, the classic result-diversification
    * rule search and RAG rerankers still ship): a bounded first pass
    * keeps the `poolC` most query-similar candidates per query, then a
    * greedy second stage picks k of them, each round maximizing
    * `lambda * sim(q, c) - (1 - lambda) * max_{s in picked} sim(c, s)` —
    * relevance traded against redundancy with what is already picked
    * (rank 1 is the plain nearest neighbor; a near-duplicate of it is
    * pushed down in favor of coverage).
    *
    * Scale shape: stage 1 is the only corpus-sized pass (broadcast
    * queries, bounded [[graft.functions.TopK]] heaps — only k-element
    * buffers shuffle); the candidates' vectors come back via a broadcast
    * semi-equi join (poolC·Q rows against the corpus scan); the greedy
    * stage — inherently sequential, O(poolC·k·dim) per query — runs
    * inside the bounded [[graft.functions.MmrSelect]] buffer, NOT as k
    * chained shuffles. Deterministic end to end: both stages break score
    * ties toward the smaller id, so the unrolled-greedy SQL oracle
    * replays every pick. Output: (query_id, rank 1..k, neighbor_id,
    * mmr_score, cos_sim — the exact query cosine). */
  def mmrTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      poolC: Int, lambda: Double): DataFrame = {
    require(poolC >= k, s"candidate pool $poolC must be >= k $k")
    GraftExpressions.register(spark)
    val n = normed(emb)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = topKRank(
      n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim")),
      poolC)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    // attach candidate vectors: Q·poolC rows broadcast against the corpus
    cands.hint("BROADCAST")
      .join(n.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .groupBy(col("query_id"))
      .agg(expr(s"graft_mmr(neighbor_id, v, nrm, cos_sim, $k, ${lambda}D, " +
        s"${poolC * 2})").as("mm"))
      .select(col("query_id"), posexplode(col("mm")).as(Seq("i", "p")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rank"),
        col("p.neighbor_id").as("neighbor_id"),
        col("p.mmr_score").as("mmr_score"), col("p.cos_sim").as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** All pairs (a<b) with cosine ≥ threshold — embedding-space near-dup
    * detection via banded hyperplane LSH + exact verify (the t07
    * LSH-then-verify shape applied to vectors):
    *
    *  1. each vector gets `numPlanes` sign bits, grouped into
    *     `numPlanes/bandBits` bands; 2. candidate pairs = pairs sharing
    *     at least one exact band value (a plain equi-join on
    *     (band, band_val) — shuffles on the band key, never enumerates
    *     n²); 3. candidates are verified with the exact codegen'd
    *     cosine, so every emitted pair is exact — LSH only affects
    *     recall.
    *
    * Recall envelope: a pair at angle θ matches one b-bit band with
    * p = (1-θ/π)^b, any of B bands with 1-(1-p)^B. At the defaults
    * (128 planes, 16×8-bit bands) a cos ≥ 0.9 pair is found with
    * ≥ 99.96% probability while only ~6% of random (θ≈90°) pairs become
    * candidates — and the planes are seeded, so a given corpus's result
    * is deterministic. Below cos ≈ 0.7 the sign-bit gap to random
    * closes and no bucketing scheme stays sub-quadratic at recall 1
    * (the threshold sinks under the inter-pair noise floor); that
    * regime is [[nearDupPairsExact]]'s. */
  def nearDupPairs(spark: SparkSession, emb: DataFrame, threshold: Double,
      numPlanes: Int = 128, bandBits: Int = 8): DataFrame = {
    GraftExpressions.register(spark)
    val n = normed(emb)
    val sigs = n.select(col("vec_id"),
        posexplode(bandValues(numPlanes, bandBits)).as(Seq("band", "band_val")))
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair may collide in several bands — verify once
    val x = n.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val y = n.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(x, "vec_a").join(y, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (expr("graft_dot(va, vb)") / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact all-pairs cosine ≥ threshold — O(n²) by construction. The
    * verification oracle for [[nearDupPairs]], and the only complete
    * answer when the threshold sits below the corpus noise floor
    * (sub-noise all-pairs similarity admits no sub-quadratic exact
    * algorithm — every pair must be examined). */
  def nearDupPairsExact(spark: SparkSession, emb: DataFrame, threshold: Double): DataFrame = {
    GraftExpressions.register(spark)
    val n = normed(emb)
    n.as("x").join(n.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (expr("graft_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding space, then within each cluster drop every
    * vector that has a smaller-id member at cosine ≥ `threshold` — the
    * keep-one-per-ε-ball rule that removes semantically redundant
    * training examples exact dedup can't see. Clustering is what makes
    * it feasible at web scale: the pairwise compare runs per cluster, so
    * cost is Σ_clusters c² (bounded by sizing k to the corpus) instead
    * of n².
    *
    * Clusters come from the paper's actual recipe — k-means — via the
    * shared deterministic [[lloydFit]]: fingerprint-smallest init (the
    * same cross-engine mod-2³¹ fold the split/sampling oracles gate on)
    * refined by `refineIterations` fixed Lloyd rounds, so the full
    * pipeline (init, every refinement round, assignment, dedup
    * verdicts) is replayable bit-for-bit in the DuckDB oracle exactly
    * as v15's is.
    *
    * Plan shape at scale: init pick is a global top-k (TakeOrdered, k
    * rows to the driver); each Lloyd round is one scan × broadcast(k)
    * with a map-side-partial argmin and a (cluster, dim) recenter
    * aggregate; the ε-ball check is an equi-join on cluster
    * (cluster-bounded, no n² pair enumeration).
    *
    * Output: (vec_id, cluster, sq_dist, keep) for every input vector,
    * ascending vec_id. */
  def semDedup(spark: SparkSession, emb: DataFrame, k: Int, threshold: Double,
      refineIterations: Int = 2): DataFrame = {
    GraftExpressions.register(spark)
    require(k > 0, s"k must be positive, got $k")
    // The paper's clustering step in full: k-means cells from the shared
    // deterministic [[lloydFit]] (fingerprint-smallest init + fixed Lloyd
    // rounds — r11 upgraded this from the one-shot centroid pick, so the
    // v08 oracle now chains the refinement iterations like v15's).
    // Identical vectors always share a cluster (assignment is a pure
    // function of the vector value with deterministic tie-breaks), which
    // is what the within-cluster pair scan relies on.
    val (assigned, _) = lloydFit(spark, emb, k, refineIterations)
    val members = assigned.select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
    val dropped = members.as("i").join(members.as("j"),
        col("i.cluster") === col("j.cluster") &&
          col("j.vec_id") < col("i.vec_id") &&
          (expr("graft_dot(i.v, j.v)") / (col("i.nrm") * col("j.nrm"))) >= threshold,
        "left_semi")
      .select(col("vec_id"), lit(false).as("keep"))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("sq_dist"),
        coalesce(col("keep"), lit(true)).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Per-band sign-bit values over `v`, via the codegen'd
    * [[graft.functions.BandedSignature]] expression (the planes live
    * inside the expression as one flat primitive array — no nested-array
    * literal, no per-plane lambda dispatch). Bit-exactness doesn't
    * matter here (only candidate membership), the exact verify
    * downstream is what lands in results. */
  private def bandValues(numPlanes: Int, bandBits: Int): Column = {
    require(numPlanes % bandBits == 0, s"numPlanes $numPlanes not a multiple of bandBits $bandBits")
    expr(s"graft_lsh_bands(v, $numPlanes, $bandBits)")
  }


  /** IVF-style approximate top-k: a KMeans coarse quantizer partitions
    * the corpus into `nCells` cells; each query scores only the
    * `nProbe` cells whose centroids are nearest to it. The classic
    * inverted-file ANN layout: candidate volume ≈ n·nProbe/nCells, and
    * on a cluster the cell assignment doubles as the partition key, so a
    * probe touches only its cells' partitions. */
  def ivfTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    GraftExpressions.register(spark)
    val (assigned, centroidDf) = fitIvf(spark, emb, nCells)
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    probeIvf(assigned, centroidDf, q, k, nProbe)
  }

  /** IVF nprobe tuning sweep — recall@k vs probe count, MEASURED: fits
    * the coarse quantizer ONCE, probes the same query set at every
    * `probes` level, and scores each level against the exact top-k.
    * The m13 band-recall discipline applied to the v04 probe-count
    * bet: the 4-of-16 default stops being an assertion and becomes
    * gated data, and `nprobe = nCells` reduces to the exact scan by
    * construction (recall 1.0 — the sweep's built-in sanity row,
    * asserted in SimilaritySpec). The exact baseline is one
    * brute-force corpus pass: a sweep is a TUNING run priced like one;
    * serving never pays it (v04's hash-sampled recall is the
    * production-channel variant).
    *
    * Output: (nprobe, query_id, n_hits, recall), ordered. */
  def ivfProbeSweep(spark: SparkSession, emb: DataFrame, nQueries: Int,
      k: Int, probes: Seq[Int], nCells: Int = 16): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nCells),
      s"probes must be in [1, $nCells], got $probes")
    GraftExpressions.register(spark)
    val (assigned, centroidDf) = fitIvf(spark, emb, nCells)
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val exact = cosineTopKForQueries(spark, emb, col("vec_id") < nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
    val approx = probes.map(np =>
      probeIvf(assigned, centroidDf, q, k, np)
        .select(lit(np).as("nprobe"), col("query_id"), col("neighbor_id")))
      .reduce(_ unionByName _)
    approx.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / k)
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** Fixed Lloyd rounds for the IVF coarse quantizer — the quantizer only
    * needs approximate centroids (recall at nProbe/nCells = 1/4 is
    * asserted in SimilaritySpec), so two rounds suffice and keep both the
    * build and its oracle replay bounded. */
  private[graft] val IvfFitIterations = 2

  /** Fits the IVF coarse quantizer and assigns every corpus vector to a
    * cell — the engine's own deterministic [[lloydFit]] (fingerprint-
    * smallest init, [[IvfFitIterations]] rounds, decimal-detour
    * recenters), NOT an MLlib KMeans: every step is a pure function of
    * the corpus, so the v04/v05 oracles replay the whole fit the way
    * v15's does, and two builds agree bit-for-bit on any partitioning.
    * Training cost is iterations × corpus, the dominant term of IVF
    * build; assignment of the full corpus falls out of the final round
    * for free. */
  private def fitIvf(spark: SparkSession, emb: DataFrame, nCells: Int)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val (assigned, cents) = lloydFit(spark, emb, nCells, IvfFitIterations)
    (assigned.withColumnRenamed("cluster", "cell").drop("sq_dist"),
      cents.toDF("cell", "centroid"))
  }

  /** Scores `q` (query_id, qv, qnrm) against the `nProbe` nearest cells of
    * an assigned corpus. Cells rank by the SAME metric KMeans assigns
    * with — squared Euclidean distance: |q-c|² = |q|² - 2q·c + |c|²; |q|²
    * is constant per query, so rank by |c|² - 2q·c. Ranking by raw dot
    * product instead can drop the query's own cell when centroid norms
    * differ (max-inner-product ≠ nearest-centroid). */
  private def probeIvf(assigned: DataFrame, centroidDf: DataFrame,
      q: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cellRank = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cell"))
    val probes = q.crossJoin(broadcast(centroidDf))
      .withColumn("cdist",
        expr("graft_dot(centroid, centroid)") - lit(2.0) * expr("graft_dot(qv, centroid)"))
      .withColumn("crank", row_number().over(cellRank))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))
    topKRank(
      assigned.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim")),
      k)
  }

  /** Persists an IVF index under `dir`: `centroids/` (cell, centroid) and
    * `assigned/` (vec_id, v, nrm, cell; parquet partitioned by cell).
    * Fitting the quantizer + signing the corpus is the expensive part of
    * IVF — build it ONCE per corpus and serve arbitrary query batches via
    * [[ivfTopKAgainstIndex]]. Cell-partitioned layout means a probe reads
    * only its nProbe cells' partitions (partition pruning / DPP on the
    * cell join), the on-disk analog of the inverted-file layout. */
  /** With `quantized = true` the assigned table stores int8 codes +
    * per-vector scale ([[quantizeInt8]]) instead of the double vectors —
    * the FAISS IVF-SQ8 layout, ~8× less vector payload on disk and in
    * scan. The stored norm is the DEQUANTIZED vector's (so probe-side
    * cosines are internally consistent); ranking quality vs the
    * full-precision index is asserted in SimilaritySpec. */
  def buildIvfIndex(spark: SparkSession, emb: DataFrame, dir: String,
      nCells: Int = 16, quantized: Boolean = false): Unit =
    graft.util.CacheRegistry.time(spark, "index_build") {
      GraftExpressions.register(spark)
      val (assigned, centroidDf) = fitIvf(spark, emb, nCells)
      centroidDf.write.mode("overwrite").parquet(s"$dir/centroids")
      val table =
        if (!quantized) assigned
        else quantizeInt8(assigned, vecCol = "v")
          .withColumn("vq", dequantized(col("q"), col("scale")))
          .withColumn("nrm", sqrt(expr("graft_dot(vq, vq)")))
          .select(col("vec_id"), col("cell"), col("scale"), col("q"), col("nrm"))
      table.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    }

  /** q/scale with the all-zero-vector (scale 0) guard. */
  private def dequantized(q: Column, scale: Column): Column =
    transform(q, c =>
      when(scale === 0d, lit(0.0)).otherwise(c.cast("double") / scale))

  /** Top-k over the persisted index at `dir` for a batch of query vectors
    * (same (vec_id, embedding) shape as the corpus; a query whose vec_id
    * exists in the index never matches itself). Bit-identical to running
    * [[ivfTopK]] over the same corpus — the fit is deterministic and
    * doubles round-trip parquet exactly (asserted in SimilaritySpec). */
  def ivfTopKAgainstIndex(spark: SparkSession, queries: DataFrame, dir: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    GraftExpressions.register(spark)
    val q = normed(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val assigned = spark.read.parquet(s"$dir/assigned")
    // quantized (IVF-SQ8) layout self-describes by its schema; codes
    // dequantize AFTER the probe's cell partition pruning, so only the
    // probed cells' rows ever expand back to doubles
    val table =
      if (!assigned.columns.contains("q")) assigned
      else assigned
        .withColumn("v", dequantized(col("q"), col("scale")))
        .drop("q", "scale")
    probeIvf(table, spark.read.parquet(s"$dir/centroids"), q, k, nProbe)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * hash-derived value in [-1, 1). Seeded — stable across runs/engines. */
  /** Symmetric per-vector int8 scalar quantization — the 4× memory/IO
    * shrink that makes billion-vector ANN serving affordable (the "SQ8"
    * of FAISS/IVF-SQ): `scale = 127 / max|xᵢ|`, `qᵢ = round(xᵢ·scale)`,
    * dequantize as `qᵢ/scale`. Adds `scale` (double), `q`
    * (array<tinyint>), and `max_err` (the vector's worst absolute
    * reconstruction error — bounded by `0.5/scale`). All-zero vectors
    * quantize to scale 0 / all-zero q, error 0.
    *
    * Per-row transform chain (scan speed, zero shuffle); floats widen to
    * double BEFORE any arithmetic so the quantized codes are bit-stable
    * across engines (the v07 oracle recomputes them in DuckDB). */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val asDouble = transform(col(vecCol), x => x.cast("double"))
    val maxAbs = array_max(transform(col("_v"), x => abs(x)))
    df.withColumn("_v", asDouble)
      .withColumn("scale",
        when(maxAbs === 0d, lit(0d)).otherwise(lit(127.0) / maxAbs))
      .withColumn("q",
        when(col("scale") === 0d, transform(col("_v"), _ => lit(0).cast("byte")))
          .otherwise(transform(col("_v"), x => round(x * col("scale")).cast("byte"))))
      .withColumn("max_err",
        when(col("scale") === 0d, lit(0d)).otherwise(array_max(
          transform(col("_v"), x => abs(x - round(x * col("scale")) / col("scale"))))))
      .drop("_v")
  }

  /** Number of sign bits in a binary vector code. 63, not 64: the code
    * is assembled with non-negative contributions only, so XOR/popcount
    * pipelines stay expressible in portable signed-64 SQL — the
    * [[Dedup.SimhashBits]] packing discipline. Dimension 64 participates
    * in the exact rerank, just not in the Hamming prefilter. */
  val BinaryBits = 63

  /** Binary (1-bit-per-dimension) sign quantization with Hamming
    * pre-ranking and exact rerank — the extreme end of the quantization
    * ladder (SQ8 4× → PQ 32× → sign bits 32× at dim 64 with a
    * popcount-only distance): each vector collapses to one 64-bit code
    * (bit d = dimension d positive — meaningful because embeddings are
    * zero-centered; the sign-random-projection view of Charikar'02 with
    * the identity basis), queries rank the ENTIRE corpus by
    * `popcount(xor)` over codes alone, and only the `rerank` best
    * candidates per query are joined back to float vectors for the exact
    * cosine top-k.
    *
    * Scale shape: the scan pass moves (vec_id, code) — 8 bytes of
    * payload per vector against 256 for the floats — with the query
    * codes broadcast; both rank stages run through the bounded k-heap
    * aggregate (k-element buffers cross the shuffle, no per-query
    * window sort); the float vectors are touched only for
    * `rerank × nQueries` rows. Everything is deterministic (Hamming
    * ties break on vec_id), so unlike the KMeans-fitted IVF tier the
    * whole pipeline — codes, every Hamming distance, the candidate
    * cut, and the reranked cosine — is oracle-replayable.
    *
    * Output: (query_id, rank, neighbor_id, cos_sim), rank 1..k. */
  def binaryTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      rerank: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerank >= k, s"rerank pool ($rerank) must cover k ($k)")
    GraftExpressions.register(spark)
    val n = normed(emb)
    val code = (0 until BinaryBits)
      .map(d => when(element_at(col("v"), d + 1) > 0d, lit(1L << d)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val codes = n.select(col("vec_id"), code.as("code"))
    val qcodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"))
    val cand = codes.crossJoin(broadcast(qcodes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("hamming"))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(neighbor_id, CAST(-hamming AS DOUBLE), $rerank)").as("tk"))
      .select(col("query_id"), explode(col("tk")).as("nb"))
      .select(col("query_id"), col("nb.neighbor_id").as("neighbor_id"))
    val x = n.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
      col("nrm").as("nn"))
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    topKRank(
      cand.join(x, "neighbor_id").join(broadcast(q), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          (expr("graft_dot(nv, qv)") / (col("nn") * col("qn"))).as("cos_sim")),
      k)
  }

  /** K-center greedy coreset selection (the 2-approximation of Gonzalez
    * 1985, applied to training-data diversity sampling as in Sener &
    * Savarese, "Active Learning for CNNs: A Core-Set Approach",
    * ICLR 2018): pick the vector farthest (squared L2) from everything
    * chosen so far, `k` times — the classic diversity carve-out that
    * covers the embedding space instead of sampling its density.
    *
    * The greedy chain is inherently sequential (pick r depends on all
    * r−1 predecessors), so the correct distributed formulation is k
    * rounds of: one scan updating each vector's running min-distance
    * against the single new broadcast center, then a 1-row
    * `TakeOrdered` argmax collect (ties on vec_id) — the [[graft.operators.Bpe]]
    * per-merge-argmax class, k tiny driver round-trips and NO shuffle
    * anywhere. State is (vec_id, v, running min), localCheckpoint'd per
    * round to cut lineage. The first pick is the smallest remixed
    * fingerprint (the v08 centroid-pick rule); everything downstream —
    * every running-min fold, every argmax tie-break — is deterministic,
    * so the whole chain is oracle-replayable (a recursive CTE carrying
    * the chosen centers).
    *
    * Output: (round, vec_id, picked_dist) — picked_dist is the squared
    * L2 from the pick to its nearest predecessor (0.0 for the seed),
    * the nonincreasing covering-radius trace. */
  def kCenterGreedy(spark: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    GraftExpressions.register(spark)
    require(k > 0, s"k must be positive, got $k")
    import spark.implicits._
    val n = normed(emb).select(col("vec_id"), col("v"))
    val firstRows = n
      .withColumn("fp", Sampling.portableUniformFingerprint(col("vec_id").cast("string")))
      .orderBy(col("fp"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect()
    require(firstRows.nonEmpty, "kCenterGreedy needs a non-empty corpus")
    val first = firstRows.head
    def distTo(center: Seq[Double]): Column =
      fullL2(col("v"), typedLit(center))
    // each round's TakeOrdered argmax computes every partition, so the
    // generation's lazy cut materializes inside that collect.
    // State: (vectors with running min, picks so far); round r picks r + 2.
    val init = (n.withColumn("mind", distTo(first.getSeq[Double](1)))
      .localCheckpoint(eager = false), Vector((1L, first.getLong(0), 0.0)))
    Fixpoint.iterate(spark, "kcenter_rounds", init, k - 1) { case (s @ (state, picks), round) =>
      val rows = state
        .filter(!col("vec_id").isInCollection(picks.map(_._2)))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("mind")).collect()
      // corpus exhausted before k picks: return the truncated trace
      // (every vector IS a center) rather than dying inside a job
      if (rows.isEmpty) Fixpoint.Done(s)
      else {
        val best = rows.head
        Fixpoint.Next((state
          .withColumn("mind", least(col("mind"), distTo(best.getSeq[Double](1))))
          .localCheckpoint(eager = false),
          picks :+ ((round + 2L, best.getLong(0), best.getDouble(2)))))
      }
    }.state._2.toDF("round", "vec_id", "picked_dist").orderBy(col("round"))
  }

  /** Contrastive training-pair mining (the DPR recipe — Karpukhin et
    * al., "Dense Passage Retrieval", EMNLP 2020): for each query vector,
    * a `positive` (its exact nearest neighbor), `nHard` hard negatives
    * (the next-ranked neighbors — "retrieved but wrong", the pairs that
    * actually teach a bi-encoder), and `nRand` random negatives drawn by
    * the remixed content fingerprint (deterministic stand-in for
    * in-batch negatives), excluding the query and everything ranked.
    *
    * Shape: the ranking reuses [[cosineTopK]] (one scan, bounded k-heap);
    * random negatives are chosen on (query_id, vec_id) IDS alone — a
    * tiny broadcast cross of ids, an anti-join against the ranked set,
    * and a per-query k-heap on the fingerprint — with vectors joined
    * back only for the ≤ nRand·nQueries selected rows' cosines. Fully
    * deterministic, so every role assignment, draw, and cosine is
    * oracle-replayable.
    *
    * Output: (query_id, role, role_rank, vec_id, cos_sim), role ∈
    * {positive, hard_neg, rand_neg}. */
  def contrastivePairs(spark: SparkSession, emb: DataFrame, nQueries: Int,
      nHard: Int, nRand: Int, seed: String): DataFrame = {
    GraftExpressions.register(spark)
    require(nHard >= 0 && nRand >= 0 && nHard + nRand > 0,
      s"need at least one negative, got nHard=$nHard nRand=$nRand")
    // checkpointed: feeds both the labeled output and the random-negative
    // exclusion anti-join, and is tiny ((nHard+1)·nQueries rows). Lazy —
    // the first consumer's job materializes it; the block-manager layer
    // computes each partition exactly once even with both scans in one
    // job
    val ranked = cosineTopK(spark, emb, nQueries, k = nHard + 1)
      .localCheckpoint(eager = false)
    val labeled = ranked.select(col("query_id"),
      when(col("rank") === 1, lit("positive")).otherwise(lit("hard_neg")).as("role"),
      when(col("rank") === 1, lit(1L)).otherwise(col("rank") - 1).as("role_rank"),
      col("neighbor_id").as("vec_id"), col("cos_sim"))
    val n = normed(emb)
    val ids = n.select(col("vec_id"))
    val qids = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"))
    // hard-negatives-only mining is allowed: the random branch (and its
    // k-heap, which requires k > 0) must not even be constructed then
    if (nRand == 0)
      return labeled.orderBy(col("query_id"), col("role"), col("role_rank"))
    val fp = Sampling.portableUniformFingerprint(
      concat(lit(s"$seed:"), col("query_id").cast("string"), lit(":"),
        col("vec_id").cast("string")))
    val randIds = ids.crossJoin(broadcast(qids))
      .filter(col("vec_id") =!= col("query_id"))
      .join(ranked.select(col("query_id"), col("neighbor_id").as("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      .select(col("query_id"), col("vec_id"), fp.as("fp"))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(vec_id, CAST(-fp AS DOUBLE), $nRand)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "nb")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("role_rank"),
        col("nb.neighbor_id").as("vec_id"))
    val x = n.select(col("vec_id"), col("v").as("nv"), col("nrm").as("nn"))
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val rand = randIds
      .join(x, "vec_id").join(broadcast(q), "query_id")
      .select(col("query_id"), lit("rand_neg").as("role"), col("role_rank"),
        col("vec_id"),
        (expr("graft_dot(nv, qv)") / (col("nn") * col("qn"))).as("cos_sim"))
    labeled.unionByName(rand)
      .orderBy(col("query_id"), col("role"), col("role_rank"))
  }

  /** Deterministic Lloyd k-means (Lloyd 1957/1982) over the embedding
    * column — the fully ORACLE-GATEABLE variant of the clustering the
    * MLlib-fitted IVF tier (v04/v05) keeps rows-only: fingerprint-picked
    * initial centroids (the v08 rule), a FIXED number of
    * assign/recenter iterations, squared-L2 assignment with the
    * (distance, centroid) lexicographic tie-break, and centroid means
    * through the decimal detour (per-(cluster, dim) DECIMAL(30,6) sums /
    * counts — the `Num.davg` contract inlined at operator layer), so
    * every iteration is accumulation-order independent and a SQL mirror
    * reproduces the whole trajectory bit for bit. A cluster that loses
    * all members keeps its previous centroid (deterministic, the
    * standard fallback).
    *
    * Scale shape per iteration: assignment = one scan × broadcast(k
    * centroids), partial-aggregated map-side (one row per vector crosses
    * the shuffle — the v08 discipline); recentering = one (cluster, dim)
    * aggregation collected to the driver (k·dim values — the centroid
    * set is a tokenizer-vocab-class artifact, not a data path). The
    * corpus frame is localCheckpoint'd once and rescanned per round.
    *
    * Output: (vec_id, cluster, sq_dist) — the final assignment, vec_id
    * order. */
  def lloydKMeans(spark: SparkSession, emb: DataFrame, k: Int,
      iterations: Int): DataFrame =
    lloydFit(spark, emb, k, iterations)._1
      .select(col("vec_id"), col("cluster"), col("sq_dist"))
      .orderBy(col("vec_id"))

  /** Deterministic k-means++ seeding (Arthur & Vassilvitskii, "k-means++:
    * the advantages of careful seeding", SODA 2007): round 1 draws
    * uniformly, every later round draws a point with probability ∝ D²
    * (its squared distance to the nearest already-chosen seed) — the
    * O(log k)-competitive init that plain uniform seeding (lloydFit's
    * fingerprint-smallest) lacks.
    *
    * Each "random" draw is an Efraimidis-Spirakis single-winner draw
    * (the t56 A-Res machinery at k = 1): winner = argmax ln(u)/D² with
    * `u` the round-salted portable remix uniform — a pure function of
    * (seed, round, id, corpus), so the whole seed SEQUENCE and every
    * round's post-pick inertia Σ D² (decimal detour, O(1)-magnitude
    * terms) replay in SQL. Points at D² = 0 (the chosen seeds and their
    * exact duplicates) carry probability 0 and are excluded, exactly as
    * in the paper.
    *
    * Scale shape: D² maintains incrementally — one scan × broadcast(1
    * new centroid) per round, `least`-folded into the carried distance
    * column (localCheckpoint'd, the lloydFit discipline), so round r
    * costs one corpus scan, not r re-scans. The per-round argmax is the
    * documented ≤ 1-row driver chain of the k-center family (v13) —
    * k rows total cross the driver, never data.
    *
    * Output: (round, seed_id, inertia), round 1..k — inertia is Σ D²
    * AFTER that round's seed joins, so the column is the measured
    * coverage-improvement curve. */
  def kmeansPlusPlusSeed(spark: SparkSession, emb: DataFrame, k: Int,
      seed: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    GraftExpressions.register(spark)
    import spark.implicits._
    // lazy cuts: the first-seed TakeOrdered below materializes n; each
    // round's inertia aggregate materializes that generation's D² fold
    val n = normed(emb).select(col("vec_id"), col("v"))
      .localCheckpoint(eager = false)
    // the t56 uniform: (remix + 1) / (2³¹ − 1) ∈ (0, 1], round-salted
    def u(r: Int): Column =
      (Sampling.portableUniformFingerprint(
          concat(lit(s"$seed:$r:"), col("vec_id").cast("string"))) + lit(1))
        .cast("double") / lit(2147483647.0)
    def centDf(cv: Seq[Double]) = broadcast(Seq(Tuple1(cv)).toDF("cv"))
    // decimal-detour inertia: D² terms are O(1) on any unit-ish
    // embedding scale — far above the 10⁻⁶ grid; a seed's own 0.0
    // contributes zero identically
    def inertia(b: DataFrame): Double = b.agg(dsum(col("d"))).head().getDouble(0)
    val firstRows = n.withColumn("_u", u(1))
      .orderBy(col("_u").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect()
    require(firstRows.nonEmpty, "kmeansPlusPlusSeed needs a non-empty corpus")
    val first = firstRows(0)
    val best1 = n.crossJoin(centDf(first.getSeq[Double](1)))
      .select(col("vec_id"), col("v"), fullL2(col("v"), col("cv")).as("d"))
      .localCheckpoint(eager = false)
    // State: (D² frame, seeds so far); round i draws seed r = i + 2.
    val init = (best1, Vector((1L, first.getLong(0), inertia(best1))))
    Fixpoint.iterate(spark, "kmeanspp_rounds", init, k - 1) { case ((best, out), round) =>
      val r = round + 2
      val cand = best.filter(col("d") > 0)
        .withColumn("_key", log(u(r)) / col("d"))
        .orderBy(col("_key").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v")).collect()
      require(cand.nonEmpty,
        s"k-means++ round $r found no point at D² > 0: k = $k exceeds the corpus' distinct vectors")
      val next = best.crossJoin(centDf(cand(0).getSeq[Double](1)))
        .select(col("vec_id"), col("v"),
          least(col("d"), fullL2(col("v"), col("cv"))).as("d"))
        .localCheckpoint(eager = false)
      Fixpoint.Next((next, out :+ ((r.toLong, cand(0).getLong(0), inertia(next)))))
    }.state._2.toDF("round", "seed_id", "inertia").orderBy(col("round"))
  }

  /** The shared Lloyd machinery behind [[lloydKMeans]] (v15) and the IVF
    * coarse quantizer ([[fitIvf]]) — ONE definition of the deterministic
    * fit, so the oracle recipe proven on v15 gates the IVF tier too.
    * Returns the final per-vector assignment (vec_id, v, nrm, cluster,
    * sq_dist — the carried `nrm` lets the IVF probe score cosines
    * without rejoining the corpus) and the centroids that produced it
    * (the last recenter's output; the final round assigns WITHOUT
    * recentering, so assignment and returned centroids agree). */
  private[operators] def lloydFit(spark: SparkSession, emb: DataFrame, k: Int,
      iterations: Int): (DataFrame, Seq[(Long, Seq[Double])]) = {
    GraftExpressions.register(spark)
    require(k > 0, s"k must be positive, got $k")
    require(iterations > 0, s"iterations must be positive, got $iterations")
    import spark.implicits._
    // lazy cuts: the init TakeOrdered materializes n; each round's
    // recenter collect materializes that round's assignment; the final
    // assignment materializes under the caller's first action
    val n = normed(emb).select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint(eager = false)
    val init = n
      .withColumn("fp", Sampling.portableUniformFingerprint(col("vec_id").cast("string")))
      .orderBy(col("fp"), col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    require(init.nonEmpty, "lloydFit needs a non-empty corpus")
    def assign(cents: Seq[(Long, Seq[Double])]): DataFrame =
      n.crossJoin(broadcast(cents.toDF("cid", "cv")))
        .select(col("vec_id"), col("v"), col("nrm"),
          struct(fullL2(col("v"), col("cv")).as("d"), col("cid")).as("sc"))
        .groupBy(col("vec_id"))
        // lexicographic min(struct) = (smallest distance, then smallest
        // cid) — and unlike a window it partial-aggregates map-side;
        // min(v)/min(nrm) are the values (every per-vec_id row carries
        // the same v and nrm)
        .agg(min(col("v")).as("v"), min(col("nrm")).as("nrm"), min(col("sc")).as("best"))
        .select(col("vec_id"), col("v"), col("nrm"), col("best.cid").as("cluster"),
          col("best.d").as("sq_dist"))
        .localCheckpoint(eager = false)
    // `iterations` assignments with a recenter between each two: the
    // loop's rounds are the iterations − 1 assign+recenter pairs
    val cents = Fixpoint.iterate(spark, "lloyd_rounds",
        init.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq,
        iterations - 1) { (cents, _) =>
      val means = assign(cents)
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("cluster"), col("dim"))
        // decimal-detour mean. Magnitude bound (the Num.dsum
        // precondition): summands are raw embedding components (~0.1
        // scale on the fixture);
        // components below the 10⁻⁶ grid contribute a deterministic
        // ≤ 5·10⁻⁷ per-dim centroid error — noise relative to any
        // component scale a clustering is meaningful at, not a
        // q34-style collapse of a whole summand class.
        .agg(davg(col("val")).as("mv"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
      Fixpoint.Next(cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) })
    }.state
    (assign(cents), cents)
  }

  /** Subvector `s` (0-based) of a `subDim`-striped vector column. */
  private def subVecAt(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, lit(s * subDim + 1), lit(subDim))

  /** L2² between subvectors as a sequential fold — bit-stable mirror of
    * the oracle's `list_sum` over the same per-element squares. */
  private def subL2(a: Column, b: Column, s: Int, subDim: Int): Column =
    aggregate(zip_with(subVecAt(a, s, subDim), subVecAt(b, s, subDim),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)

  /** Full-dimension L2², same sequential-fold contract. */
  private def fullL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)

  /** Product-quantization ADC top-k (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011) — the
    * code-compression tier of the ANN family: vectors are split into
    * `nSub` subspaces, each encoded as its nearest codebook centroid, and
    * queries rank the corpus by ASYMMETRIC DISTANCE (ADC): exact query
    * subvector vs quantized data subvector, summed over subspaces. The
    * point at 100 TB is memory: a 64-dim float vector is 256 bytes, its
    * PQ code is `nSub` bytes (32× here) — the corpus-resident footprint
    * that makes billion-vector serving fit RAM, with [[quantizeInt8]]'s
    * SQ8 as the lighter 4× sibling.
    *
    * Determinism (the oracle replays every step): the codebook is the
    * `codebookK` vectors with the smallest `fold(vec_id)` fingerprint
    * (the v08 centroid-pick rule — k-means refinement would change
    * fixture quality, not the encode/ADC algebra under test), subspace
    * distances are sequential double folds over the widened floats,
    * argmin ties break on the smaller codebook index, and ADC ranks
    * break ties on the smaller vec_id.
    *
    * Plan shape: codebook = global bounded top-k (codebookK rows);
    * encode = one scan × broadcast(codebook), the per-subspace argmins
    * partial-aggregated map-side (one row per vector crosses the
    * shuffle — the v08 assignment discipline); ADC = one scan of the
    * CODES × broadcast(per-query distance tables — the raw query
    * vectors never meet the corpus), ranked by the bounded k-heap.
    * No stage touches more than codes + a broadcast at any corpus
    * size. */
  def pqTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      dim: Int = 64, nSub: Int = 8, codebookK: Int = 16): DataFrame = {
    GraftExpressions.register(spark)
    require(nSub > 0 && dim % nSub == 0, s"dim $dim not a multiple of nSub $nSub")
    require(codebookK > 0 && k > 0 && nQueries > 0,
      s"codebookK/k/nQueries must be positive")
    val subDim = dim / nSub
    val n = pqDimGuard(normed(emb), dim, "pq")
    val cent = pqCodebook(n, codebookK)
    val codes = pqEncode(n, cent, nSub, subDim)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    pqAdcRank(codes, pqAdcTables(q, cent, nSub, subDim), nSub, k)
  }

  /** Fail loudly on a vector that doesn't match the declared dim —
    * silent slice-out-of-range would encode garbage codes. */
  private def pqDimGuard(n: DataFrame, dim: Int, tag: String): DataFrame =
    n.withColumn("_dim_guard", assert_true(size(col("v")) === lit(dim),
        lit(s"$tag: expected $dim-dim vectors")))
      .filter(col("_dim_guard").isNull).drop("_dim_guard")

  /** PQ codebook: smallest-fingerprint sample with DENSE index j
    * (0-based — the byte code); the rank window runs over codebookK
    * rows, one task. */
  private def pqCodebook(n: DataFrame, codebookK: Int): DataFrame =
    n.withColumn("fp", Sampling.portableUniformFingerprint(col("vec_id").cast("string")))
      .orderBy(col("fp"), col("vec_id")).limit(codebookK)
      .withColumn("j",
        (row_number().over(Window.orderBy(col("fp"), col("vec_id"))) - 1).cast("int"))
      .select(col("j"), col("v").as("cv"))

  /** Encode: per-subspace argmin over the broadcast codebook, all nSub
    * argmins in ONE partial+final aggregate — min(struct(dist, j)) is
    * the lexicographic argmin with the smaller-j tie-break. One
    * (vec_id, codes) row per vector. */
  private def pqEncode(n: DataFrame, cent: DataFrame, nSub: Int,
      subDim: Int): DataFrame = {
    val mins = (0 until nSub).map(s =>
      min(struct(subL2(col("v"), col("cv"), s, subDim).as("d"), col("j"))).as(s"m$s"))
    n.crossJoin(broadcast(cent))
      .groupBy(col("vec_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("vec_id"),
        array((0 until nSub).map(s => col(s"m$s.j")): _*).as("codes"))
  }

  /** Per-query ADC tables: (query × codebook × subspace) distances,
    * flattened to one lookup array per query. j-major flat layout:
    * dflat[j*nSub + s + 1] = d(q_s, centroid j, s); collect_list order
    * is nondeterministic, array_sort on (j, ...) canonicalizes it (j is
    * unique within a query). */
  private def pqAdcTables(q: DataFrame, cent: DataFrame, nSub: Int,
      subDim: Int): DataFrame =
    q.crossJoin(broadcast(cent))
      .select(col("query_id") +: col("j") +:
        (0 until nSub).map(s => subL2(col("qv"), col("cv"), s, subDim).as(s"d$s")): _*)
      .groupBy(col("query_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("j") +: (0 until nSub).map(s => col(s"d$s")): _*))),
        row => array((0 until nSub).map(s => row.getField(s"d$s")): _*))).as("dflat"))

  /** ADC ranking: the scan touches only (vec_id, codes) — sequential
    * fold over subspaces keeps the sum order fixed for the oracle. */
  private def pqAdcRank(codes: DataFrame, dflat: DataFrame, nSub: Int,
      k: Int): DataFrame = {
    val adist = codes
      .crossJoin(broadcast(dflat))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist",
        aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
          (acc, s) => acc + element_at(col("dflat"),
            element_at(col("codes"), s + 1) * nSub + s + 1)))
    topKRank(adist.select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-col("adist")).as("cos_sim")), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos_sim")).as("adist"))
  }

  /** Persist a PQ index: the codebook, the 8-byte-per-vector code
    * table, and a params side file. THIS is where PQ's 32× compression
    * pays — the serving path ([[pqTopKAgainstIndex]]) reads codes and
    * codebook only; the float vectors never leave the build. Encode
    * once, probe many — the [[buildIvfIndex]] lifecycle for the code
    * tier, but deterministic, so the persisted probe is oracle-gateable
    * (v11 reuses v09's oracle verbatim: the index path must reproduce
    * the in-memory result bit for bit). */
  def buildPqIndex(spark: SparkSession, emb: DataFrame, dir: String,
      dim: Int = 64, nSub: Int = 8, codebookK: Int = 16): Unit =
    graft.util.CacheRegistry.time(spark, "index_build") {
      GraftExpressions.register(spark)
      require(nSub > 0 && dim % nSub == 0, s"dim $dim not a multiple of nSub $nSub")
      require(codebookK > 0, s"codebookK must be positive")
      val subDim = dim / nSub
      val n = pqDimGuard(normed(emb), dim, "pq-index")
      val cent = pqCodebook(n, codebookK)
      cent.write.mode("overwrite").parquet(s"$dir/codebook")
      // read the codebook BACK for encoding so the codes are derived
      // from exactly what probes will read (doubles round-trip parquet
      // bit-exactly; this pins the invariant structurally)
      pqEncode(n, spark.read.parquet(s"$dir/codebook"), nSub, subDim)
        .write.mode("overwrite").parquet(s"$dir/codes")
      graft.io.ParamsFile.write(spark, dir, "dim" -> dim, "n_sub" -> nSub, "codebook_k" -> codebookK)
    }

  /** Top-k over the persisted PQ index for a batch of query vectors
    * (same (vec_id, embedding) shape as the corpus; a query whose
    * vec_id exists in the index never matches itself). Reads ONLY the
    * codebook (tiny, broadcast) and the code table — bit-identical to
    * [[pqTopK]] over the same corpus and parameters (asserted in
    * SimilaritySpec AND by the v11 oracle, which is v09's). */
  def pqTopKAgainstIndex(spark: SparkSession, queries: DataFrame,
      dir: String, k: Int): DataFrame = {
    GraftExpressions.register(spark)
    require(k > 0, s"k must be positive, got $k")
    val (dim, nSub, codebookK) = readPqParams(spark, dir)
    val _ = codebookK // layout-descriptive; probing needs dim/nSub only
    val q = pqDimGuard(normed(queries), dim, "pq-probe")
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cent = spark.read.parquet(s"$dir/codebook")
    val codes = spark.read.parquet(s"$dir/codes")
    pqAdcRank(codes, pqAdcTables(q, cent, nSub, dim / nSub), nSub, k)
  }

  /** Params as the index dir declares them — a probe against an index
    * built with different parameters must fail loudly, not return
    * garbage distances (the Dedup.readParams discipline). */
  private def readPqParams(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val field = graft.io.ParamsFile.read(spark, dir, "PQ")
    (field("dim").toInt, field("n_sub").toInt, field("codebook_k").toInt)
  }

  /** IVF-PQ top-k — the production-standard composition (FAISS's
    * `IndexIVFPQ`; Jégou et al. TPAMI 2011 §V): a coarse quantizer
    * partitions the corpus into `nCells` cells, vectors are
    * PQ-encoded as RESIDUALS against their cell centroid (residuals
    * cluster near the origin, so the same codebook budget spends its
    * resolution where the data is), and a query probes only its
    * `nProbe` nearest cells, ranking their members by asymmetric
    * distance over the codes. Pruning × compression: the scan touches
    * `nProbe/nCells` of the corpus AND only its 8-byte codes — the
    * combination that serves billion-vector indexes from RAM.
    *
    * Determinism (fully oracle-replayed, unlike the KMeans-fitted
    * v04/v05 family): coarse centroids and the residual codebook are
    * fingerprint-picked (the v08/v09 rule), every argmin ties to the
    * smaller cell/codebook index, ADC ranks tie to the smaller vec_id,
    * and all distance sums are sequential folds.
    *
    * Plan shape: both centroid sets are bounded top-k picks; cell
    * assignment and residual encoding partial-aggregate map-side (one
    * row per vector crosses each shuffle); the probe is an EQUI-JOIN of
    * the code table against the broadcast (query, probed-cell) distance
    * tables on the cell id — members of unprobed cells are never
    * touched, which is the IVF contract. */
  def ivfPqTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      dim: Int = 64, nSub: Int = 8, codebookK: Int = 16,
      nCells: Int = 8, nProbe: Int = 3): DataFrame = {
    GraftExpressions.register(spark)
    require(nSub > 0 && dim % nSub == 0, s"dim $dim not a multiple of nSub $nSub")
    require(nProbe > 0 && nProbe <= nCells,
      s"nProbe $nProbe must be in 1..$nCells")
    require(codebookK > 0 && k > 0 && nQueries > 0,
      s"codebookK/k/nQueries must be positive")
    val subDim = dim / nSub
    val n = normed(emb)
      .withColumn("_dim_guard", assert_true(size(col("v")) === lit(dim),
        lit(s"ivfpq: expected $dim-dim vectors")))
      .filter(col("_dim_guard").isNull).drop("_dim_guard")
    val fp = Sampling.portableUniformFingerprint(col("vec_id").cast("string"))
    // coarse centroids, keyed by their source vec_id (no dense index
    // needed — the cell id is a join key, never an array offset)
    val coarse = n.withColumn("fp", fp)
      .orderBy(col("fp"), col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell"), col("v").as("ccv"))
    // cell assignment: argmin over the broadcast centroids,
    // partial-aggregated map-side (min(struct) — smaller cell on ties)
    val assigned = n.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("v"),
        struct(fullL2(col("v"), col("ccv")).as("d"), col("cell")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("v")).as("v"), min(col("sc")).as("best"))
      .select(col("vec_id"), col("v"), col("best.cell").as("cell"))
    // residuals r = v − centroid(cell): PQ spends its resolution near
    // the origin, where residuals concentrate
    val resid = assigned.join(broadcast(coarse), Seq("cell"))
      .withColumn("r", zip_with(col("v"), col("ccv"), (a, b) => a - b))
      .select(col("vec_id"), col("cell"), col("r"))
    // residual codebook: the codebookK smallest-fingerprint RESIDUALS
    // with dense index j (array offset in the ADC tables) — EXCLUDING
    // the coarse picks themselves: a coarse vector's residual is the
    // zero vector, so the same fingerprint prefix would fill the first
    // nCells codebook slots with identical zeros (the smaller-j
    // tie-break leaves all but one unreachable — half the codebook
    // budget silently wasted, and with nCells ≥ codebookK ALL codes
    // would collapse to 0)
    val cb = resid.filter(col("vec_id") =!= col("cell"))
      .withColumn("fp", fp)
      .orderBy(col("fp"), col("vec_id")).limit(codebookK)
      .withColumn("j",
        (row_number().over(Window.orderBy(col("fp"), col("vec_id"))) - 1).cast("int"))
      .select(col("j"), col("r").as("cbv"))
    val mins = (0 until nSub).map(s =>
      min(struct(subL2(col("r"), col("cbv"), s, subDim).as("d"), col("j"))).as(s"m$s"))
    val codes = resid.crossJoin(broadcast(cb))
      .groupBy(col("vec_id"))
      .agg(min(col("cell")).as("cell"), mins: _*)
      .select(col("vec_id"), col("cell"),
        array((0 until nSub).map(s => col(s"m$s.j")): _*).as("codes"))
    // probed cells per query: rank the nCells centroids (tiny frame,
    // per-query window over ≤ nCells rows)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val qcells = q.crossJoin(broadcast(coarse))
      .withColumn("qcd", fullL2(col("qv"), col("ccv")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qcd"), col("cell"))))
      .filter(col("cr") <= nProbe)
      .select(col("query_id"), col("cell"),
        zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("qr"))
    // per-(query, cell) ADC tables over the QUERY RESIDUAL — j-major
    // flat layout as in pqTopK
    val dflat = qcells.crossJoin(broadcast(cb))
      .select(col("query_id") +: col("cell") +: col("j") +:
        (0 until nSub).map(s => subL2(col("qr"), col("cbv"), s, subDim).as(s"d$s")): _*)
      .groupBy(col("query_id"), col("cell"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("j") +: (0 until nSub).map(s => col(s"d$s")): _*))),
        row => array((0 until nSub).map(s => row.getField(s"d$s")): _*))).as("dflat"))
    // the probe: codes equi-join the broadcast tables on the cell id —
    // only probed cells' members are scanned (the IVF pruning)
    val adist = codes.join(broadcast(dflat), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist",
        aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
          (acc, s) => acc + element_at(col("dflat"),
            element_at(col("codes"), s + 1) * nSub + s + 1)))
    topKRank(adist.select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-col("adist")).as("cos_sim")), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos_sim")).as("adist"))
  }

  private def planeLiteral(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(numPlanes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** The same planes, flattened row-major — the layout
    * [[graft.functions.BandedSignature]] loops over. */
  private[graft] def flatPlanes(numPlanes: Int, dim: Int): Array[Double] =
    planeLiteral(numPlanes, dim).flatten

  /** Random-hyperplane LSH signature (one int, numPlanes sign bits) —
    * one band holding every plane's bit from the codegen'd
    * [[graft.functions.BandedSignature]] (bit order differs from the
    * historical per-plane form, but Hamming distance is invariant under
    * bit permutation, so bucket membership is unchanged). */
  private def withSignature(df: DataFrame, numPlanes: Int): DataFrame = {
    require(numPlanes <= 31, "single-band signature packs into an int")
    df.withColumn("sig",
      element_at(expr(s"graft_lsh_bands(v, $numPlanes, $numPlanes)"), 1).cast("long"))
  }

  /** Appends a measured `recall_at_k` column to an approximate top-k
    * result: per query, the fraction of the EXACT top-k neighbors the
    * approximate search recovered. Both frames carry the (query_id,
    * rank, neighbor_id, cos_sim) top-k shape. This turns the recall
    * quality gate from a unit-test-only assertion into DATA the
    * correctness artifacts carry — a rows-only ANN query's output now
    * quantifies its own approximation. Cost: both sides are
    * queries×k rows; everything below the approximate search itself is
    * broadcast-joined, no extra shuffle of the corpus. */
  def withMeasuredRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    // materialize the approximate result ONCE: it is queries×k rows, but
    // its PLAN embeds the whole approximate search (for IVF, a KMeans
    // fit) — the result frame is referenced twice below, and without the
    // checkpoint Spark re-runs the search per reference (v03 6.8s /
    // v04 15.7s in the r9 bench collapse to the single-search cost)
    val a = approx.localCheckpoint()
    val found = a.select(col("query_id"), col("neighbor_id"))
      .withColumn("_found", lit(1))
    val recall = exact.select(col("query_id"), col("neighbor_id"))
      .join(found, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg((count(col("_found")).cast("double") / count(lit(1))).as("recall_at_k"))
    // FULL OUTER on the tiny per-query recall frame:
    //  - a query the exact baseline covers but the approximate search
    //    returned ZERO rows for is precisely the recall-0 failure this
    //    column exists to expose — it surfaces as a row (null
    //    rank/neighbor, recall 0), not vanishing;
    //  - a query the baseline does NOT cover (sampled-baseline mode —
    //    `exact` restricted to a query sample) keeps its approximate
    //    rows with null recall_at_k, so sampling never drops results.
    a.join(broadcast(recall), Seq("query_id"), "full_outer")
      .select((col("query_id") +:
        a.columns.filterNot(_ == "query_id").map(col).toSeq :+
        col("recall_at_k")): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Approximate top-k: score only candidates whose LSH signature is
    * within `maxHamming` of the query's (multi-probe). For a pair at
    * angle θ each plane flips with probability θ/π, so Hamming ~
    * Binomial(numPlanes, θ/π): the defaults (8 planes, radius 2) score
    * ~14% of the corpus per query with ~45% recall of θ≈66° neighbors —
    * on *clustered* corpora (near-dup mining, θ small) recall approaches
    * 1 while still skipping most of the corpus. Tune per workload. */
  def lshTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      numPlanes: Int = 8, maxHamming: Int = 2): DataFrame = {
    GraftExpressions.register(spark)
    val n = withSignature(normed(emb), numPlanes)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    topKRank(
      n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id") &&
          bit_count(col("sig").bitwiseXOR(col("qsig"))) <= maxHamming)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim")),
      k)
  }

  /** Exact maximum-inner-product top-k (the MIPS baseline): score is the
    * RAW dot product — the recommender-serving objective, where a long
    * vector beats a well-aligned short one and cosine's normalization is
    * exactly what must NOT happen. Queries need nrm > 0 only for parity
    * with [[mipsTopK]]'s augmentation (the zero vector's inner product
    * with everything is 0 and its "direction" is undefined). Output:
    * (query_id, rank, neighbor_id, dot). */
  def mipsExactForQueries(spark: SparkSession, emb: DataFrame,
      queryPred: Column, k: Int): DataFrame = {
    GraftExpressions.register(spark)
    val n = normed(emb)
    val q = n.filter(queryPred && col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topKRank(
      n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("graft_dot(v, qv)").as("cos_sim")),
      k).withColumnRenamed("cos_sim", "dot")
  }

  /** Approximate MIPS via norm augmentation (Bachrach et al., "Speeding
    * up the Xbox recommender system using a Euclidean transformation for
    * inner-product spaces", RecSys 2014; Neyshabur & Srebro, "On
    * symmetric and asymmetric LSHs for inner product search", ICML
    * 2015 — SIMPLE-LSH): inner product has NO direct LSH family, so the
    * corpus is lifted one dimension with x̃ = [x/M ; √(1 − ‖x‖²/M²)]
    * (M = corpus max norm, so ‖x̃‖ = 1) and the query with
    * q̃ = [q/‖q‖ ; 0]; then cos(q̃, x̃) = ⟨q, x⟩/(M·‖q‖) — ANGULAR
    * similarity in the lifted space ranks EXACTLY by inner product, and
    * the existing sign-bit machinery applies unchanged. Candidates
    * within `maxHamming` of the query's lifted signature are verified
    * with the exact raw dot, so approximation affects recall only
    * (measure it: [[withMeasuredRecall]] against
    * [[mipsExactForQueries]]).
    *
    * Scale shape: identical to [[lshTopK]] — M is one scalar aggregate
    * broadcast back, the lift is a per-row map, and the signature filter
    * prunes the corpus before any dot is computed. Output: (query_id,
    * rank, neighbor_id, dot). */
  def mipsTopK(spark: SparkSession, emb: DataFrame, nQueries: Int, k: Int,
      numPlanes: Int = 8, maxHamming: Int = 2): DataFrame = {
    GraftExpressions.register(spark)
    require(numPlanes <= 31, "single-band signature packs into an int")
    val n = normed(emb)
    val m = n.agg(max(col("nrm")).as("m_norm"))
    val aug = n.crossJoin(broadcast(m))
      .withColumn("va", concat(
        transform(col("v"), x => x / col("m_norm")),
        array(sqrt(greatest(lit(0.0),
          lit(1.0) - (col("nrm") / col("m_norm")) * (col("nrm") / col("m_norm")))))))
      .withColumn("sig",
        element_at(expr(s"graft_lsh_bands(va, $numPlanes, $numPlanes)"), 1)
          .cast("long"))
    val q = n.filter(col("vec_id") < nQueries && col("nrm") > 0)
      .withColumn("qa", concat(
        transform(col("v"), x => x / col("nrm")), array(lit(0.0))))
      .withColumn("qsig",
        element_at(expr(s"graft_lsh_bands(qa, $numPlanes, $numPlanes)"), 1)
          .cast("long"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("qsig"))
    topKRank(
      aug.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id") &&
          bit_count(col("sig").bitwiseXOR(col("qsig"))) <= maxHamming)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("graft_dot(v, qv)").as("cos_sim")),
      k).withColumnRenamed("cos_sim", "dot")
  }

  /** Achlioptas ±1 sign matrix for the JL projection (outDims × dim),
    * fixed-seed like [[planeLiteral]] — a shared cross-engine CONSTANT
    * interpolated into both the Spark literals and the SQL oracle. */
  private[graft] def jlSigns(outDims: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(7L)
    Array.fill(outDims, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Johnson-Lindenstrauss random projection with MEASURED distortion
    * (Johnson & Lindenstrauss 1984; Achlioptas, "Database-friendly
    * random projections", JCSS 2003): project d-dim embeddings to
    * `outDims` via a ±1 sign matrix scaled by 1/√outDims — the
    * dimensionality-reduction pass that makes downstream
    * all-pairs/LSH/clustering 4× cheaper per halving while provably
    * preserving pairwise L2 up to 1 ± O(1/√outDims) — and gate the
    * theorem AS DATA: every pair among the first `nSample` vectors
    * carries its original distance², projected distance², and ratio.
    *
    * Scale shape: the projection is one per-row expression chain (a
    * zip_with fold per output dim — codegen'd, no aggregation, no
    * shuffle); only the bounded nSample² distortion audit joins. On a
    * full corpus a caller uses the same projection column and keeps
    * the audit sampled exactly as here.
    *
    * Determinism: the sign matrix is a fixed-seed constant shared with
    * the oracle; per-row folds follow the [[fullL2]] sequential-fold
    * contract, so distances and ratios replay bit-identically.
    *
    * Output: (vec_id_a, vec_id_b, d2_orig, d2_proj, ratio), pairs with
    * d2_orig > 0 among vec_id < nSample, ordered. */
  def jlDistortion(spark: SparkSession, emb: DataFrame, outDims: Int,
      nSample: Int): DataFrame = {
    require(outDims >= 1, s"outDims must be positive, got $outDims")
    require(nSample >= 2, s"nSample needs at least one pair, got $nSample")
    val sub = emb
      .filter(col("vec_id") < nSample)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()
    require(!sub.isEmpty,
      s"jlDistortion: no vectors with vec_id < $nSample to audit")
    val d = sub.select(size(col("v"))).head().getInt(0)
    // the sample is bounded, so the raggedness check is cheap — a short
    // row would otherwise null-pad through zip_with and surface as a
    // silently-null projected distance instead of an error
    require(sub.filter(size(col("v")) =!= d).isEmpty,
      s"jlDistortion: ragged embedding lengths in the sample (expected $d)")
    val signs = jlSigns(outDims, d)
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val proj = sub.withColumn("y", array(signs.map { row =>
      aggregate(
        zip_with(col("v"), array(row.map(lit): _*), (x, s) => x * s),
        lit(0.0), (acc, t) => acc + t) * lit(scale)
    }: _*))
    val a = proj.select(col("vec_id").as("vec_id_a"), col("v").as("va"),
      col("y").as("ya"))
    val b = proj.select(col("vec_id").as("vec_id_b"), col("v").as("vb"),
      col("y").as("yb"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .withColumn("d2_orig", fullL2(col("va"), col("vb")))
      .withColumn("d2_proj", fullL2(col("ya"), col("yb")))
      .filter(col("d2_orig") > 0)
      .select(col("vec_id_a"), col("vec_id_b"), col("d2_orig"),
        col("d2_proj"), (col("d2_proj") / col("d2_orig")).as("ratio"))
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  /** Top principal component by power iteration on the scatter matrix
    * (Pearson 1901; Mises & Pollaczek-Geiringer ZAMM 1929) — the
    * dimensionality-reduction / whitening pass run before ANN indexing
    * or SemDeDup-style clustering, and the family's first SPECTRAL
    * member (everything else here is distance- or quantization-based).
    *
    * Shape: ONE corpus-scale pass builds the d×d scatter matrix
    * S = Σ (x−μ)(x−μ)ᵀ — a double posexplode whose n·d² product rows
    * partial-aggregate map-side, so the shuffle carries only
    * d²-per-partition buffers and S itself is FIXED-SIZE (the sketch
    * family's contract; at d in the thousands the same sums would ride
    * one TypedImperativeAggregate buffer instead of an explode).
    * Everything after runs on the d²-row table: `iterations` rounds of
    * vₜ₊₁ = S·vₜ / ‖S·vₜ‖, each one matvec aggregation plus a
    * d-element driver collect (the bounded vocab-sized-collect class,
    * like the tokenizer tables).
    *
    * Determinism (the oracle replays every round in one recursive
    * CTE): every cross-engine sum — per-dim means, scatter cells, each
    * matvec component, the norm, the Rayleigh quotient, the trace —
    * takes the DECIMAL(30,6) detour; per-row products and the final
    * divisions/sqrt are single IEEE ops on bit-identical doubles.
    * Magnitude bound: embedding components are O(0.1–1), so centered
    * products sit far above the 10⁻⁶ grid. The start vector is the
    * indicator of the largest-variance dimension (min index on ties) —
    * a deterministic seed that also pins the eigenvector's sign.
    *
    * Output: one row per dimension (dim, loading, lambda, var_frac) —
    * `loading` the unit eigenvector estimate, `lambda` = vᵀSv/n (the
    * variance along it), `var_frac` = vᵀSv/tr(S) (fraction of total
    * variance explained — the number a pipeline reads before deciding
    * how many components to keep), ordered by dim. */
  def pcaTopComponent(spark: SparkSession, emb: DataFrame,
      iterations: Int = 8): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    import spark.implicits._
    // normed()'s double-widening without its graft_dot norm (unused here)
    val n = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint(eager = false) // the count below materializes it
    val cnt = n.count()
    require(cnt > 0, "pcaTopComponent needs a non-empty corpus")
    val d = n.select(size(col("v"))).head().getInt(0)
    val mu = n.select(posexplode(col("v"))).toDF("i", "x")
      .groupBy(col("i")).agg(dsum(col("x")).as("sx"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1) / cnt).toMap
    val muLit = array((0 until d).map(i => lit(mu(i))): _*)
    val scat = n
      .withColumn("cv", zip_with(col("v"), muLit, (x, m) => x - m))
      .select(col("cv"), posexplode(col("cv"))).toDF("cv", "i", "xi")
      .select(col("i"), col("xi"), posexplode(col("cv"))).toDF("i", "xi", "j", "xj")
      .groupBy(col("i"), col("j"))
      .agg(dsum(col("xi") * col("xj")).as("sv"))
      .localCheckpoint(eager = false) // the d0 TakeOrdered materializes it
    val d0 = scat.filter(col("i") === col("j"))
      .orderBy(col("sv").desc, col("i")).select(col("i")).head().getInt(0)
    val start = Array.tabulate(d)(i => if (i == d0) 1.0 else 0.0)
    val vec = Fixpoint.iterate(spark, "pca_rounds", start, iterations) { (vec, _) =>
      val vLit = array(vec.map(lit): _*)
      // ONE job per round (r19): the matvec's d per-i sums, their
      // decimal-detoured squared norm and the driver pull ride a single
      // two-level aggregation over the checkpointed d×d scatter frame.
      // The old shape paid three actions per round (localCheckpoint
      // materialization of w, the norm agg, the collect) — pure fixed
      // job latency at any corpus size, since scat is d² rows always.
      // Same dsum expressions on the same wi values, so every round's
      // normalized vector is bit-identical (v18's oracle replays it).
      val row = scat
        .groupBy(col("i"))
        .agg(dsum(col("sv") * element_at(vLit, col("j") + 1)).as("wi"))
        .agg(dsum(col("wi") * col("wi")).as("n2"),
          collect_list(struct(col("i"), col("wi"))).as("ws"))
        .head()
      val nrm = math.sqrt(row.getDouble(0))
      require(nrm > 0,
        "pcaTopComponent: zero-variance corpus (all vectors identical) has no principal direction")
      val wMap = row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      Fixpoint.Next(Array.tabulate(d)(i => wMap(i) / nrm))
    }.state
    val vLit = array(vec.map(lit): _*)
    // Rayleigh quotient and trace in ONE pass (r19): the diagonal filter
    // becomes a null-skipping `when` inside the same aggregation — the
    // decimal sum sees exactly the i==j terms either way.
    val fin = scat.agg(
      dsum(col("sv")
        * element_at(vLit, col("i") + 1)
        * element_at(vLit, col("j") + 1)).as("ray"),
      dsum(when(col("i") === col("j"), col("sv"))).as("tr")).head()
    val rayleigh = fin.getDouble(0)
    val trace = fin.getDouble(1)
    (0 until d).map(i => (i.toLong, vec(i), rayleigh / cnt, rayleigh / trace))
      .toDF("dim", "loading", "lambda", "var_frac")
      .orderBy(col("dim"))
  }
}
