package graft

import org.apache.spark.sql.functions._

import graft.io.Corpus

/** Plan-shape assertions: the properties that make queries survive a
  * 100× scale-up — filter/projection pushdown to the parquet scan,
  * broadcast joins for small dims, map-side partial aggregation. These
  * guard against regressions that correctness tests can't see. */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val spec = graft.queries.Registry.specs.find(_.name == name).get
    spec.run(spark, sf0001).queryExecution.executedPlan.toString
  }

  test("q05: range filter and projection push into the parquet scan") {
    val plan = planOf("q05_filter_topk")
    // note: Spark truncates the metadata string, so match the prefix only
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipda"), s"missing pushdown:\n$plan")
    // only the 6 needed columns are read, not all 11
    assert(plan.contains("ReadSchema") && !plan.contains("l_tax"),
      "projection must prune unused columns")
  }

  test("t76: both retrieval passes keep the substring prefilter pushed to the scan") {
    // the feedback pass re-scores with a runtime-expanded term set; the
    // expansion is collected to literals precisely so BOTH scans keep
    // the contains() prefilter at the parquet scan (a data-dependent
    // term frame would have forced a full-corpus explode)
    val plan = planOf("t76_rocchio_prf")
    val pushed = plan.split('\n').count(l =>
      l.contains("PushedFilters:") && l.contains("StringContains(text,hash"))
    assert(pushed >= 1, s"expanded-pass scan lost the contains prefilter:\n$plan")
  }

  test("q06: dims join via broadcast, not shuffle") {
    val plan = planOf("q06_region_customer_stats")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val plan = planOf("q01_pricing_summary")
    // partial + final HashAggregate pair around the exchange (under AQE
    // the codegen * markers only appear once the plan finalizes, so
    // assert the partial_ functions directly)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"expected partial agg:\n$plan")
    assert(plan.contains("partial_sum"), s"map-side combine missing:\n$plan")
  }

  test("q17: point lookup pushes the key predicate to the scan") {
    val plan = planOf("q17_point_lookup")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)]") ||
      plan.contains("EqualTo(o_orderkey,1)"), s"missing key pushdown:\n$plan")
  }

  test("t77 fuzzy decontamination: banded equi-join, benchmark side broadcasts, no cartesian") {
    val plan = planOf("t77_fuzzy_decontamination")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus candidates must equi-join on (band_idx, band_hash), not enumerate n·m:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the small benchmark side must broadcast through candidate generation:\n$plan")
  }

  test("v02 near-dup pairs: no cartesian/theta join in the plan") {
    val plan = planOf("v02_embedding_neardups")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded candidates must equi-join on the band key, not enumerate n²:\n$plan")
  }

  test("similarity top-k: small corpora broadcast-join in one job; large fuse with no join") {
    // r15: the kernel is a measured function of corpus size (see
    // Similarity.FusedKernelMinBytes) — below it a single-job broadcast
    // crossJoin; above it the fused graft_multiq_topk pass, where NO
    // join materializes |corpus|·Q pair rows. Both branches pinned.
    val small = graft.operators.Similarity
      .cosineTopK(spark, Corpus.embeddings(spark, sf0001), 5, 10)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastNestedLoopJoin") || small.contains("BroadcastExchange"),
      s"below the threshold the query set must broadcast:\n$small")
    val fusedPlan = graft.operators.Similarity
      .cosineTopKForQueriesImpl(spark, Corpus.embeddings(spark, sf0001),
        col("vec_id") < 5, 10, fused = true)
      .queryExecution.executedPlan.toString
    assert(fusedPlan.contains("graft_multiq_topk"),
      s"the fused branch must rank through the multi-query kernel:\n$fusedPlan")
    assert(!fusedPlan.contains("Join"),
      s"the fused branch may not materialize corpus x query pairs:\n$fusedPlan")
  }

  test("t15 incremental dedup: batch probes the index by equi-join, never n²") {
    val plan = planOf("t15_dedup_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"index probe must equi-join on (band_idx, band_hash) and (doc, shingle):\n$plan")
    assert(plan.contains("partial_min"), s"signature min-agg must have a map-side phase:\n$plan")
  }

  test("t18 repetition filter: per-row scan, no join or aggregation") {
    val plan = planOf("t18_repetition_filter")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"repetition features are per-row — any join/agg means a needless shuffle:\n$plan")
    assert(plan.contains("graft_mode_count"),
      s"bigram mode must run through the codegen'd O(n) expression:\n$plan")
  }

  test("t17 LM scoring: vocabulary joins broadcast; per-doc agg has a map-side phase") {
    val plan = planOf("t17_lm_quality")
    assert(plan.contains("BroadcastHashJoin"), s"LM table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the token→LM join must not sort-merge the exploded corpus:\n$plan")
    assert(plan.contains("partial_count"), s"doc agg needs map-side combine:\n$plan")
  }

  test("t20 packing: one shuffle on the shard key, then a per-shard window") {
    val plan = planOf("t20_sequence_pack")
    assert(plan.contains("Window"), s"running sum must be a window:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"window must partition by shard (a global running sum would be one task):\n$plan")
  }

  test("t22 chunking: per-row explode, no shuffle before the output sort") {
    val plan = planOf("t22_doc_chunks")
    assert(plan.contains("Generate"), s"chunking must be a generator (posexplode):\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
      !plan.contains("Window"),
      s"chunk boundaries are per-row arithmetic — no join/agg/window belongs here:\n$plan")
  }

  test("t10/t14: the portable fold runs as the codegen'd Fold31 expression") {
    // The HOF form it replaced (aggregate over split(text,'')) allocated a
    // single-char-string array + two lambda dispatches per character on
    // the hot path of five queries — assert the native expression is what
    // the plan actually evaluates.
    Seq("t10_fingerprint_mod", "t14_hash_split").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("graft_fold31"),
        s"$q must fingerprint via the codegen'd Fold31 expression:\n$plan")
      assert(!plan.contains("aggregate(filter(split"),
        s"$q still evaluates the interpreted HOF fold:\n$plan")
    }
  }

  test("t21 corpus rollup: single two-phase aggregation on lang") {
    val plan = planOf("t21_corpus_report")
    assert(plan.contains("partial_count"), s"rollup needs map-side combine:\n$plan")
    assert(!plan.contains("Join"), s"the datasheet is one scan + one agg, no join:\n$plan")
  }

  test("t25 manifest: one scan, zero joins, window only on the content hash") {
    val plan = planOf("t25_training_manifest")
    assert(!plan.contains("Join"),
      s"every manifest signal is per-row or windowed — a join means a needless shuffle:\n$plan")
    assert(plan.contains("hashpartitioning(text_hash"),
      s"dedup keep-one must window on the content hash:\n$plan")
  }

  test("similarity top-k ranks via bounded partial aggregate, not a window sort") {
    // the window form shuffles every scored candidate of a query to one
    // task and sorts it there; the bounded TopK aggregate must show up as
    // an ObjectHashAggregate pair with a partial phase instead
    for ((df, partial) <- Seq(
        (graft.operators.Similarity.cosineTopK(spark, Corpus.embeddings(spark, sf0001), 5, 10),
          "partial_graft_topk"),
        (graft.operators.Similarity.cosineTopKForQueriesImpl(spark,
          Corpus.embeddings(spark, sf0001), col("vec_id") < 5, 10, fused = true),
          "partial_graft_multiq_topk"),
        (graft.operators.Similarity.lshTopK(spark, Corpus.embeddings(spark, sf0001), 5, 10),
          "partial_graft_topk"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
      assert(plan.contains(partial), s"expected $partial phase:\n$plan")
      assert(!plan.contains("Window"), s"window-based ranking must be gone:\n$plan")
    }
  }

  test("t23 repeated passages: the heavy aggregation keys on the 8-byte gram hash") {
    val plan = planOf("t23_repeated_passages")
    assert(plan.contains("hashpartitioning(gh"),
      s"the every-window shuffle must key on xxhash64(gram):\n$plan")
    assert(!plan.contains("hashpartitioning(gram"),
      s"no exchange may carry the ~100-byte gram string as its key:\n$plan")
  }

  test("t26 decontamination: grams equi-join on 8-byte hashes, never n² or strings") {
    val plan = planOf("t26_ngram_decontamination")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gram overlap must be an equi-join:\n$plan")
    assert(plan.contains("xxhash64"),
      s"grams must reduce to 8-byte hashes before shuffling:\n$plan")
    // the shuffles move (doc_id, gh) / (gh) — a partitioning on the raw
    // gram string means ~100-byte keys cross the wire
    assert(!plan.contains("hashpartitioning(gram"),
      s"no shuffle may be keyed on the gram string:\n$plan")
  }

  test("t27 training order: per-shard window, no global single-task sort") {
    val plan = planOf("t27_training_order")
    assert(plan.contains("Window"), s"positions must come from a window:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"window must partition by shard (a global row_number would be one task):\n$plan")
  }

  test("t31 BM25: substring prefilter reaches the scan; corpus stats broadcast") {
    val plan = planOf("t31_bm25_topk")
    assert(plan.contains("StringContains(text,hash)") || plan.contains("Contains(text, hash)"),
      s"the superset prefilter must push to the parquet scan:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"df/stats frames must broadcast, not shuffle-join:\n$plan")
  }

  test("t28 token budget: per-(lang,bucket) window + broadcast offsets, no per-lang sort") {
    val plan = planOf("t28_token_budget_mix")
    // the heavy window must partition by (lang, _bucket); a window keyed
    // by lang alone sorts an entire language in one task
    assert(plan.contains("hashpartitioning(lang") && plan.contains("_bucket"),
      s"running sum must be bucketed within the stratum:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the strata×buckets offset frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"joining offsets by shuffle defeats the two-level design:\n$plan")
  }

  test("v08 semDedup: centroids broadcast; the ε-ball check is an equi-join, never n²") {
    val plan = planOf("v08_semdedup")
    // clustering now runs inside lloydFit's checkpointed rounds (its
    // broadcast(k)-crossJoin + map-side-partial argmin shape is the v15
    // machinery, value-pinned by the v15 oracle); what the FINAL plan
    // must show is the ε-ball pair check staying cluster-bounded: an
    // equi-join on the cluster id, never a cartesian or a nested-loop
    // pair enumeration
    assert(!plan.contains("CartesianProduct"),
      s"pairwise compare must stay cluster-bounded:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the pair check must be an equi-join on cluster, not a nested loop:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"dropped-member detection must stay a semi-join (ids only):\n$plan")
  }

  test("t36 temperature mix: rates broadcast back; the data itself never shuffle-joins") {
    val plan = planOf("t36_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-stratum rate frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"shuffle-joining the corpus against five rate rows defeats the design:\n$plan")
  }

  test("t35 DSIR: both bucket LMs broadcast; no shuffle join on the gram stream") {
    val plan = planOf("t35_dsir_resample")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤buckets-row LM frames must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"shuffle-joining the gram stream against the LMs defeats the design:\n$plan")
  }

  test("t44 perplexity buckets: LM and thresholds broadcast; gram stream never shuffle-joins") {
    val plan = planOf("t44_perplexity_buckets")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (lang,bucket) LM and per-language threshold frames must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"shuffle-joining the gram stream against tiny frames defeats the design:\n$plan")
    // the k-heap sample must partial-aggregate map-side, not rank every
    // doc of a language in one window task
    assert(plan.contains("partial_graft_topk") || plan.contains("ObjectHashAggregate"),
      s"threshold sampling must use the bounded k-heap aggregate:\n$plan")
  }

  test("t45 classifier-Pareto: both class LMs broadcast; no shuffle join on grams") {
    val plan = planOf("t45_classifier_pareto")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤buckets-row class LMs must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"shuffle-joining the gram stream against the LMs defeats the design:\n$plan")
  }

  test("v10 IVF-PQ: probe equi-joins codes on the cell id; assignments partial-aggregate") {
    val plan = planOf("v10_ivfpq_topk")
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast cartesians (corpus × centroids) are allowed:\n$plan")
    // the probe must be an equi-join against the broadcast distance
    // tables — a shuffled join would defeat the cell pruning
    assert(plan.contains("BroadcastHashJoin"),
      s"the (query, probed-cell) tables must broadcast-join on cell:\n$plan")
    assert(plan.contains("partial_min"),
      s"cell assignment and subspace argmins must be two-phase aggregates:\n$plan")
  }

  test("v09 PQ: codebook broadcasts; encode argmins partial-aggregate map-side") {
    val plan = planOf("v09_pq_topk")
    // corpus × broadcast(16-row codebook) is the only allowed cartesian
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"codebook and per-query distance tables must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"a shuffled cartesian in the encode path kills the scan shape:\n$plan")
    // per-subspace argmins reduce map-side: one row per vector crosses
    // the shuffle, not one per (vector × centroid)
    assert(plan.contains("partial_min"),
      s"subspace argmin encoding must be a two-phase aggregate:\n$plan")
  }

  test("t48 edit-distance dedup: blocking joins on 8-byte gram hashes, never n² or raw text") {
    val plan = planOf("t48_dedup_editdist")
    assert(plan.contains("xxhash64"),
      s"grams must reduce to 8-byte hashes before any shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join on the gram hash:\n$plan")
    assert(plan.contains("partial_count"),
      s"gram document frequency needs map-side combine:\n$plan")
  }

  test("t51 unigram encode: whole lattice in one codegen'd expression; word agg map-side") {
    val spec = graft.queries.Registry.specs.find(_.name == "t51_unigram_encode").get
    val qe = spec.run(spark, sf0001).queryExecution
    // the expression lives in the aggregate's result projection, which the
    // physical summary elides — assert it on the optimized logical plan
    assert(qe.optimizedPlan.toString.contains("graft_unigram_encode"),
      s"Viterbi must run through the codegen'd expression, not HOF folds:\n${qe.optimizedPlan}")
    val plan = qe.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"word-frequency aggregation needs map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"nothing in the encode path may go n²:\n$plan")
  }

  test("v12 binary top-k: query codes broadcast; both rank stages are bounded k-heaps") {
    val plan = planOf("v12_binary_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the Hamming pass must stream codes against broadcast query codes:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"a shuffled cartesian in the code scan kills the plan:\n$plan")
    assert(!plan.contains("Window"),
      s"ranking must run through the bounded k-heap aggregate, not a window sort:\n$plan")
  }

  test("bm25 index probe: query-term buckets prune partitions; df broadcasts") {
    val plan = planOf("t53_bm25_index")
    assert(plan.contains("PartitionFilters: [bucket") ||
        plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"the probe must read only the query terms' posting buckets:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny df table must broadcast into the postings join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"nothing in the probe may go n²:\n$plan")
  }

  test("t49 span excision: occurrence counts key on gram hashes; islands window is per-doc") {
    val plan = planOf("t49_substring_excision")
    assert(plan.contains("xxhash64"),
      s"gram occurrence counting must key on the 8-byte hash:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nothing in the excision path may go n²:\n$plan")
    assert(plan.contains("partial_count"),
      s"occurrence counting needs map-side combine:\n$plan")
    assert(plan.contains("Window") && plan.contains("hashpartitioning(doc_id"),
      s"the islands window must partition per document, never one global task:\n$plan")
  }

  test("t55 CMS: the sketch partial-aggregates map-side; cell lookups broadcast") {
    val plan = planOf("t55_cms_estimates")
    // the matrix itself is collected in a separate job; what the FINAL
    // plan must show is the tiny cells frame broadcasting back onto the
    // distinct-token stream, never shuffle-joining it
    assert(plan.contains("BroadcastHashJoin"),
      s"the depth×width cells frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"joining fixed-size cells by shuffle defeats the sketch:\n$plan")
  }

  test("t56 weighted reservoir: bounded k-heap, no corpus-wide sort") {
    val plan = planOf("t56_weighted_reservoir")
    assert(plan.contains("partial_graft_topk"),
      s"the reservoir must reduce map-side via the k-heap aggregate:\n$plan")
    // the only global sort allowed is the k-row rank order after the
    // winners join; the corpus-sized keyed stream (_rk / res_key before
    // the heap) must never range-partition
    assert(!plan.contains("rangepartitioning(_rk") &&
      !plan.contains("rangepartitioning(res_key"),
      s"a range-partitioned global sort of the corpus keys defeats the heap:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the k winners must broadcast back for the weight column:\n$plan")
  }

  test("t60 kmv quantiles: bounded k-heap sample, no corpus-wide sort or shuffle") {
    val plan = planOf("t60_kmv_quantiles")
    assert(plan.contains("partial_graft_topk"),
      s"the bottom-k sample must reduce map-side via the k-heap aggregate:\n$plan")
    // the (value, id) window ranks the groups×k SAMPLE only; the
    // corpus-sized keyed stream (_u before the heap) must never
    // range-partition — that would be the full sort the sketch exists
    // to avoid
    assert(!plan.contains("rangepartitioning(_u"),
      s"a range-partitioned global sort of the corpus keys defeats the sketch:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"winner ids / estimates must broadcast back, never shuffle the corpus:\n$plan")
  }

  test("q42 z-order: codegen'd bit arithmetic, pruned scan, map-side bucket agg") {
    val plan = planOf("q42_zorder_layout")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"the Morton interleave must stay built-in shift/mask expressions:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("l_extendedprice"),
      "the layout pass must read only the two clustered columns")
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"bucket stats must partial-aggregate map-side:\n$plan")
    // the column maxima fold into LITERALS (collected once, guarded for
    // overflow): the layout pass has no join of any kind
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"the maxima must fold into literals, never join the fact table:\n$plan")
  }

  test("q43 TWAP: one key shuffle feeds both the window and the aggregation") {
    val plan = planOf("q43_time_weighted_avg")
    // lead() needs (user_id) hash partitioning + in-partition sort; the
    // groupBy(user_id) that follows must reuse that partitioning rather
    // than shuffle again — one hashpartitioning on user_id in the plan
    val shuffles = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(shuffles === 1,
      s"expected the window's partitioning to serve the aggregation, found $shuffles:\n$plan")
    assert(plan.contains("Window"), s"lead() must run as a window:\n$plan")
  }

  test("t66 PII scan: one scan, codegen'd regex, the output sort is the only exchange") {
    val plan = planOf("t66_pii_scan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"masking must ride built-in regexp expressions:\n$plan")
    // a masking pass is scan-bound: per-row work only — the single
    // exchange the COMPUTATION may require is the deterministic output
    // ordering (Corpus's REPARTITION_BY_NUM input normalization is
    // harness plumbing, not a plan property of the query)
    val required = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(required <= 1, s"a per-row masking pass must not shuffle data:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"no join or aggregation belongs in a masking scan:\n$plan")
  }

  test("q46 point-in-time lookup: the SCD2 dim broadcasts, the range predicate stays residual") {
    val plan = planOf("q46_pit_lookup")
    // dimension-sized side broadcasts; the fact table must never
    // shuffle for the join (the 100 TB contract of a dim lookup)
    assert(plan.contains("BroadcastHashJoin"),
      s"the SCD2 dim must broadcast to the fact scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the validity-range predicate must ride the custkey equi-join as a residual:\n$plan")
  }

  test("t67 containment: blocking equi-joins on shingles, never a cartesian") {
    val plan = planOf("t67_containment_pairs")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join on the rare shingles:\n$plan")
    assert(plan.contains("partial_count"),
      s"the df and intersection counts must partial-aggregate map-side:\n$plan")
  }

  test("q47 strict as-of join: join-free — union + carry-forward window, no range join") {
    val plan = planOf("q47_asof_join")
    // the union + last(ignoreNulls) window form: no join node at all —
    // a range-join emulation (probe × earlier-quotes) would show a
    // non-equi Join and die on the first hot key at scale
    assert(!plan.contains("Join"),
      s"as-of must be the union+window form, not a join:\n$plan")
    assert(plan.contains("Window"), s"carry-forward must run as a window:\n$plan")
    // the (user, hour) quote dedup + the user-keyed as-of window +
    // the output sort are the only exchanges
    val shuffles = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(shuffles <= 2,
      s"expected only the dedup and as-of key exchanges, found $shuffles:\n$plan")
  }

  test("t70 blocklist: one codegen'd scan, no joins, no aggregation exchange") {
    val plan = planOf("t70_blocklist_scan")
    assert(plan.contains("graft_blocklist"),
      s"the one-pass automaton expression must be in the plan:\n$plan")
    assert(!plan.contains("Join"), s"a P-pass contains sweep would join:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"nothing to aggregate — per-row scan only:\n$plan")
  }

  test("v21 mmr: corpus pass is a bounded heap; greedy runs in the bounded mmr buffer, no window") {
    val plan = planOf("v21_mmr_rerank")
    assert(plan.contains("BroadcastExchange"),
      s"the query side and the candidate list must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"stage 1 is a broadcast nested loop, not a cartesian shuffle:\n$plan")
    assert("graft_topk".r.findAllIn(plan).size >= 2,
      s"the candidate pool must come from the bounded TopK heap:\n$plan")
    assert(plan.contains("graft_mmr"),
      s"greedy selection must run inside the bounded mmr aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"no row_number window belongs anywhere in the mmr plan:\n$plan")
  }

  test("v20 matryoshka: queries broadcast both stages below the fused threshold; bounded heaps") {
    val plan = planOf("v20_matryoshka_rerank")
    assert(plan.contains("BroadcastExchange"),
      s"the 5-query side must broadcast, never shuffle the corpus:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"stage 1 is a broadcast nested loop by design, not a cartesian shuffle:\n$plan")
    assert("graft_topk".r.findAllIn(plan).size >= 4, // partial + final per stage
      s"both stages must rank through the bounded TopK aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"no row_number window belongs in either ranking stage:\n$plan")
  }

  test("v20 matryoshka fused branch: prefix kernel stage 1, no pair-materializing join") {
    // the branch deployment-size corpora take (measured 1.2-2x over
    // fused-exact at 8x byte ratio, SURVEY §8.-9)
    val plan = graft.operators.Similarity.matryoshkaTopKImpl(spark,
        Corpus.embeddings(spark, sf0001), nQueries = 5, k = 10,
        prefixDims = 16, overfetch = 4, fused = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_multiq_topk"),
      s"stage 1 must be the fused prefix kernel:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no pair-materializing join belongs anywhere:\n$plan")
    assert("(?<!multiq_)graft_topk".r.findAllIn(plan).size >= 2,
      s"stage 2 must rank through the bounded TopK aggregate (partial + final):\n$plan")
    assert(!plan.contains("Window"),
      s"no row_number window belongs in either ranking stage:\n$plan")
  }

  test("q48 salted join: the dim replicates via explode and the salt rides the join key") {
    val plan = planOf("q48_salted_skew_join")
    assert(plan.contains("Generate explode"),
      s"the small side must replicate across salts via explode:\n$plan")
    assert(plan.contains("_salt"),
      s"the salt column must be part of the join key:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the salted join stays a hash equi-join:\n$plan")
    assert(plan.contains("partial_count"),
      s"the post-join aggregate must partial-aggregate map-side:\n$plan")
  }

  test("q49 grouping sets: one Expand feeds a two-phase aggregate; one scan") {
    val plan = planOf("q49_grouping_sets")
    assert(plan.contains("Expand"),
      s"grouping sets must plan as one Expand over one scan, not a self-union:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2 &&
      plan.contains("partial_count"),
      s"expand output must partial-aggregate map-side:\n$plan")
    assert("FileScan".r.findAllIn(plan).size <= 1,
      s"an arbitrary set lattice still reads the fact table ONCE:\n$plan")
  }

  test("t71 rake: per-doc windows and keyed aggs only — no cartesian, no corpus window") {
    val plan = planOf("t71_rake_keywords")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"RAKE is keyed by doc/(doc,word) throughout:\n$plan")
    // both windows (stopword running count, final rank) partition by doc
    assert(plan.contains("windowspecdefinition(doc_id"),
      s"every window must partition by doc, never the whole corpus:\n$plan")
  }

  test("t73 s-curve: no tokenizer sinks into the scan as a pushed predicate") {
    val plan = planOf("t73_minhash_s_curve")
    // the 100x lesson: a size(tokens(text)) row filter pushed through
    // the repartition into the single-split scan serialized the whole
    // corpus onto one core (277-384 s vs 3.6 s). The scan's pushed
    // filters must stay id-only; string work belongs above the exchange.
    val scanLines = plan.split("\n").filter(_.contains("FileScan"))
    assert(scanLines.nonEmpty && scanLines.forall(l => !l.contains("split(")),
      s"tokenization must not ride a pushed scan predicate:\n${scanLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"),
      s"pairs join by id arithmetic, never a cross product:\n$plan")
  }

  test("v22 probe sweep: cell candidates join by equi-key; ranks are bounded k-heaps") {
    val plan = planOf("v22_ivf_probe_sweep")
    assert(!plan.contains("CartesianProduct"),
      s"the only nested loop is the broadcast exact baseline:\n$plan")
    assert(plan.contains("graft_topk"),
      s"per-level ranking must ride the bounded TopK aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell candidates attach via a broadcast equi-join on cell:\n$plan")
  }
}
