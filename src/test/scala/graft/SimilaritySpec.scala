package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions
import graft.io.Corpus
import graft.operators.Similarity

/** Similarity search: custom DotProduct expression (interpreted + codegen
  * paths), brute-force top-k on hand-checkable vectors, LSH recall. */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("graft_dot matches manual dot product (codegen + interpreted)") {
    GraftExpressions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).as[Double].head() === 32.0)
    // force interpreted path too (eval via filter on driver-side literal)
    val viaSql = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
    assert(viaSql.as[Double].head() === 11.0)
  }

  test("fused multi-query kernel ≡ the join form it replaced (multi-partition, self-excluded)") {
    GraftExpressions.register(spark)
    // 200 deterministic 6-dim vectors over 8 partitions so partial
    // buffers genuinely merge; 4 queries
    val vecs = spark.range(200).repartition(8)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(6)),
          i => (pmod(col("id") * 31 + i * 17, lit(97)).cast("double") / 97.0 - 0.5)
            .cast("float")).as("embedding"))
      .localCheckpoint()
    val fused = Similarity.cosineTopKForQueriesImpl(spark, vecs,
        col("vec_id") < 4, k = 5, fused = true)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // the replaced plan, replayed literally: crossJoin + graft_dot + window rank
    val n = vecs
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val q = n.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val joined = n.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    val ref = joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fused === ref, "fused kernel must be bit-identical to the join form")
    // no query appears as its own neighbor
    assert(!fused.exists { case (qid, _, nb, _) => qid == nb })
  }

  test("ragged embedding widths fail loudly in graft_dot and the fused kernel (no silent prefix)") {
    GraftExpressions.register(spark)
    // codegen path
    val ragged = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    val e1 = intercept[Exception] {
      ragged.select(expr("graft_dot(a, b)")).collect()
    }
    assert(e1.getMessage.contains("length mismatch") ||
      Option(e1.getCause).exists(_.getMessage.contains("length mismatch")), e1.getMessage)
    // interpreted path (constant-folded on the driver)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d), array(1.0d, 2.0d))").collect()
    }
    assert(e2.getMessage.contains("length mismatch") ||
      Option(e2.getCause).exists(_.getMessage.contains("length mismatch")), e2.getMessage)
    // fused kernel: a 3-wide corpus row against a 2-wide query
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Similarity.cosineTopKForQueriesImpl(spark, vecs,
        col("vec_id") === 0, k = 1, fused = true).collect()
    }
    def mentionsWidth(t: Throwable): Boolean =
      t != null && (t.getMessage != null && t.getMessage.contains("width") ||
        mentionsWidth(t.getCause))
    assert(mentionsWidth(e3), e3.getMessage)
  }

  test("branch parity: int-typed vec_id + vec_id predicate behave identically in both branches") {
    // ADVICE r15: the branch flips implicitly at the optimizer-stats
    // threshold, so a shape that works in one branch must work in the
    // other — int ids (the fused collect used getLong) and a predicate
    // over vec_id (the crossJoin branch used to evaluate it against
    // normed()'s frame, where 'embedding' is dropped) are the two
    // hazards. Both branches canonicalize to (vec_id: long, embedding).
    GraftExpressions.register(spark)
    val vecs = Seq(
      (0, Array(1.0f, 0.0f)), (1, Array(0.8f, 0.6f)),
      (2, Array(0.0f, 1.0f)), (3, Array(-0.5f, 0.5f)))
      .toDF("vec_id", "embedding") // IntegerType ids
    val pred = col("vec_id").isin(0, 2)
    val both = Seq(true, false).map { f =>
      val df = Similarity.cosineTopKForQueriesImpl(spark, vecs, pred, k = 2, fused = f)
      assert(df.schema("query_id").dataType === org.apache.spark.sql.types.LongType,
        s"fused=$f must widen int ids to long")
      df.as[(Long, Long, Long, Double)].collect().toSeq.sorted
    }
    assert(both(0) === both(1), "fused and crossJoin branches must agree on int-id input")
    assert(both(0).map(_._1).toSet === Set(0L, 2L))
  }

  test("query predicate over a metadata column works in BOTH branches (full raw schema)") {
    // the documented contract is an ARBITRARY predicate over the input
    // frame — including columns outside (vec_id, embedding); it must
    // hold at every corpus size, i.e. in both implicit branches
    GraftExpressions.register(spark)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), true), (1L, Array(0.8f, 0.6f), false),
      (2L, Array(0.0f, 1.0f), true), (3L, Array(-0.5f, 0.5f), false))
      .toDF("vec_id", "embedding", "is_query")
    val both = Seq(true, false).map { f =>
      Similarity.cosineTopKForQueriesImpl(spark, vecs, col("is_query"), k = 2, fused = f)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    }
    assert(both(0) === both(1))
    assert(both(0).map(_._1).toSet === Set(0L, 2L))
  }

  test("missing optimizer stats pick the fused branch (scale-safe default)") {
    // A leaf with unknown stats (LogicalRDD) reports
    // spark.sql.defaultSizeInBytes = Long.MaxValue, so the size gate
    // must land on the fused kernel — a deployment corpus without
    // ANALYZE stats must never silently pick the |corpus|·Q crossJoin.
    GraftExpressions.register(spark)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val rdd = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(0L, Seq(1.0f, 0.0f)),
      org.apache.spark.sql.Row(1L, Seq(0.6f, 0.8f)),
      org.apache.spark.sql.Row(2L, Seq(0.0f, 1.0f))))
    val noStats = spark.createDataFrame(rdd, schema)
    val sz = noStats.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz >= Similarity.FusedKernelMinBytes,
      s"LogicalRDD must report unknown-large stats, got $sz")
    val top = Similarity.cosineTopKForQueries(spark, noStats, col("vec_id") < 1, k = 2)
    // the fused plan ranks through graft_multiq_topk, not a crossJoin
    val plan = top.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_multiq_topk") && !plan.toLowerCase.contains("join"),
      s"stats-free corpus must rank through the fused kernel:\n$plan")
    assert(top.count() === 2)
  }

  test("multi-query kernel zero-norm contract: NaN default ranks first, -1.0 opt-in ranks last") {
    GraftExpressions.register(spark)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 0.0f)),  // zero vector
      (2L, Array(0.9f, 0.1f)), (3L, Array(-0.6f, 0.8f))) // cos -0.6 > the -1 guard
      .toDF("vec_id", "embedding")
    // default: 0/0 arithmetic → NaN, totally-ordered greatest
    val top = Similarity.cosineTopKForQueriesImpl(spark, vecs,
        col("vec_id") < 1, k = 3, fused = true)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    assert(top.head._1 === 1L && top.head._2.isNaN,
      s"NaN (plain arithmetic) sorts first in the heap's total order: ${top.toSeq}")
    // -1.0 opt-in (matryoshka stage 1): the zero vector sorts LAST
    val blob = graft.functions.MultiQTopK.encodeQueries(Seq((0L, Array(1.0, 0.0))))
    val guarded = vecs.agg(expr(s"graft_multiq_topk(vec_id, embedding, '$blob', 3, -1.0D)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.neighbor_id"), col("e.cos_sim"))
      .as[(Long, Double)].collect()
    assert(guarded.last === ((1L, -1.0)),
      s"zero-norm with the -1.0 guard sorts last: ${guarded.toSeq}")
  }

  test("cosineTopK ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),   // same direction as 0
      (11L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),   // close
      (12L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),   // orthogonal
      (13L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1))  // opposite
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(spark, vecs, nQueries = 1, k = 3)
      .select("rank", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(top(0)._2 === 10L && math.abs(top(0)._3 - 1.0) < 1e-12)
    assert(top(1)._2 === 11L)
    assert(top(2)._2 === 12L && math.abs(top(2)._3) < 1e-12)
  }

  test("nearDupPairs finds only the aligned pair at high threshold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.nearDupPairs(spark, vecs, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("banded nearDupPairs ≡ exact brute force on planted dups (sf0.001 and sf0.1)") {
    // plant near-dups the same way v02 does; banded LSH must recall every
    // pair the exact scan finds — checked at the small SF AND at the bench
    // SF (2k vectors), the scales v02 actually runs at
    bandedEqualsExact(sf0001, everyNth = 10)
    bandedEqualsExact("/root/testdata/sf0.1", everyNth = 20)
  }

  private def bandedEqualsExact(dir: String, everyNth: Int): Unit = {
    val base = Corpus.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = base.filter(col("vec_id") % everyNth === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.25) * element_at(col("embedding"),
            pmod(i + lit(1), size(col("embedding"))) + lit(1))).as("embedding"))
    val corpus = base.unionByName(planted)
    val exact = Similarity.nearDupPairsExact(spark, corpus, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val banded = Similarity.nearDupPairs(spark, corpus, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, s"$dir: planted dups must exist above the threshold")
    assert(banded === exact, s"$dir: banded missed ${exact -- banded}, extra ${banded -- exact}")
  }

  test("ivfTopK recall vs brute force is usable on the corpus") {
    val emb = Corpus.embeddings(spark, sf0001)
    val brute = Similarity.cosineTopK(spark, emb, 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, emb, 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // 4-of-16 cells scored; on a near-uniform corpus expect roughly the
    // probed fraction of true neighbors, far more on clustered data
    assert(recall >= 0.2, s"recall $recall")
  }

  test("ivfProbeSweep: recall monotone in nprobe, exact at nprobe = nCells") {
    val emb = Corpus.embeddings(spark, sf0001)
    val rows = Similarity.ivfProbeSweep(spark, emb, nQueries = 5, k = 10,
        probes = Seq(1, 4, 16), nCells = 16)
      .select("nprobe", "query_id", "n_hits", "recall")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.length === 15, "3 probe levels × 5 queries")
    // probing every cell IS the exact scan — recall 1.0 by construction
    rows.filter(_._1 == 16).foreach { r =>
      assert(r._4 === 1.0 && r._3 === 10L, s"nprobe=16 must be exact: $r")
    }
    // more cells probed can only add candidates: per-query monotone
    rows.groupBy(_._2).values.foreach { qr =>
      val byProbe = qr.sortBy(_._1).map(_._4)
      assert(byProbe.zip(byProbe.tail).forall { case (a, b) => a <= b },
        s"recall not monotone: ${qr.toSeq.sortBy(_._1)}")
    }
  }

  test("matryoshkaTopK at full prefix width with overfetch 1 IS the exact baseline") {
    // degenerate parameters collapse the two stages into one exact pass
    // — the identity that pins the stage plumbing (joins, dedup, rank)
    val emb = Corpus.embeddings(spark, sf0001)
    val exact = Similarity.cosineTopK(spark, emb, 5, 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val m = Similarity.matryoshkaTopK(spark, emb, 5, 10,
        prefixDims = 64, overfetch = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(m === exact)
  }

  test("matryoshkaTopK: prefix first-pass recall vs exact is usable and re-rank is exact") {
    val emb = Corpus.embeddings(spark, sf0001)
    val exact = Similarity.cosineTopK(spark, emb, 5, 10)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val got = Similarity.matryoshkaTopK(spark, emb, 5, 10,
        prefixDims = 16, overfetch = 4)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val gotSet = got.map(r => (r._1, r._2)).toSet
    val recall = (exactSet & gotSet).size.toDouble / exactSet.size
    // this corpus is RANDOM vectors — the worst case for the MRL bet
    // (untrained prefixes carry no concentrated information). Pure
    // noise would land at overfetch-fraction recall ≈ 40/499 ≈ 0.08;
    // the observed ~0.4 is the real prefix-cosine signal floor, and
    // trained MRL embeddings are the actual deployment bet — this test
    // pins the floor and the plumbing, not the bet
    assert(recall >= 0.3, s"prefix-stage recall $recall")
    // whatever survives stage 1 carries the EXACT full-width cosine:
    // every (query, neighbor) shared with the baseline has its score
    val exactScores = exact.map(r => (r._1, r._2) -> r._3).toMap
    got.filter(r => exactSet.contains((r._1, r._2))).foreach { r =>
      assert(r._3 === exactScores((r._1, r._2)),
        s"re-ranked score must be the exact cosine for ${(r._1, r._2)}")
    }
  }

  test("mmrTopK demotes a redundant near-duplicate in favor of coverage") {
    // query straddles two directions: 10 and 11 nearly collinear (a
    // redundant pair, pairwise cos ~0.99999), 12 equally relevant but on
    // the OTHER side (cos to 10 only ~0.61). Plain top-2 by query cosine
    // alone = {10 (0.9003), 11 (0.8993)}; MMR's second pick must demote
    // 11 (0.7*0.8993 - 0.3*0.99999 = 0.330) for 12
    // (0.7*0.8944 - 0.3*0.6107 = 0.443).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 9),
      (10L, Array(0.9f, 0.435f, 0.0f), 9),
      (11L, Array(0.895f, 0.4352f, 0.0f), 9),
      (12L, Array(0.88f, -0.44f, 0.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val exact = Similarity.cosineTopK(spark, vecs, nQueries = 1, k = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(exact === Seq(10L, 11L))
    val mmr = Similarity.mmrTopK(spark, vecs, nQueries = 1, k = 2,
        poolC = 3, lambda = 0.7)
      .select("rank", "neighbor_id", "mmr_score", "cos_sim")
      .as[(Long, Long, Double, Double)].collect()
    assert(mmr.map(_._2).toSeq === Seq(10L, 12L),
      "the near-duplicate of pick 1 must lose to the diverse candidate")
    // rank 1 carries lambda * qsim; cos_sim is always the true query cosine
    assert(math.abs(mmr(0)._3 - 0.7 * mmr(0)._4) < 1e-15)
    assert(math.abs(mmr(1)._3 - 0.443) < 0.01)
  }

  test("mmrTopK at lambda = 1 IS the exact top-k (diversity term inert)") {
    val emb = Corpus.embeddings(spark, sf0001)
    val exact = Similarity.cosineTopK(spark, emb, 5, 8)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val mmr = Similarity.mmrTopK(spark, emb, 5, 8, poolC = 8, lambda = 1.0)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(mmr === exact)
  }

  test("mmrTopK is invariant under input partitioning") {
    val emb = Corpus.embeddings(spark, sf0001)
    val base = Similarity.mmrTopK(spark, emb, 3, 5, poolC = 12, lambda = 0.7)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    val again = Similarity.mmrTopK(spark, emb.repartition(13), 3, 5,
        poolC = 12, lambda = 0.7)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(again === base)
  }

  test("TopKHeap keeps exactly the k best under (score desc, id asc)") {
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 3, 10, 50)) {
      val items = Seq.fill(500)((rnd.nextInt(20).toDouble, rnd.nextLong() % 1000))
      val h = new graft.functions.TopKHeap(k)
      items.foreach { case (s, i) => h.insert(s, i) }
      val got = h.sortedIndices().map(i => (h.scores(i), h.ids(i))).toSeq
      val expected = items.sortBy { case (s, i) => (-s, i) }.take(k)
      assert(got === expected, s"k=$k")
    }
  }

  test("TopKHeap totally orders NaN (greatest, as Spark's desc sort ranks it)") {
    val h = new graft.functions.TopKHeap(3)
    Seq((0.5, 1L), (Double.NaN, 2L), (0.9, 3L), (0.1, 4L), (Double.NaN, 5L))
      .foreach { case (s, i) => h.insert(s, i) }
    val got = h.sortedIndices().map(i => h.ids(i)).toSeq
    // NaN first (id asc among NaNs), then 0.9 — 0.5/0.1 evicted
    assert(got === Seq(2L, 5L, 3L),
      "raw < comparisons would freeze NaN wherever it lands and corrupt the heap")
    // -0.0 must TIE 0.0 (Spark's compareDoubles semantics), so the id
    // tiebreak decides — raw Double.compare would rank -0.0 strictly lower
    val z = new graft.functions.TopKHeap(1)
    z.insert(0.0, 7L); z.insert(-0.0, 3L)
    assert(z.ids(0) === 3L, "-0.0 ties 0.0; lower id wins the k boundary")
  }

  test("TopKHeap merge across partial buffers equals a single global heap") {
    val rnd = new scala.util.Random(11)
    val items = Seq.fill(300)((rnd.nextInt(10).toDouble, rnd.nextLong() % 500))
    val parts = items.grouped(75).toSeq
    val partials = parts.map { p =>
      val h = new graft.functions.TopKHeap(7)
      p.foreach { case (s, i) => h.insert(s, i) }
      h
    }
    val merged = new graft.functions.TopKHeap(7)
    partials.foreach(merged.mergeFrom)
    val got = merged.sortedIndices().map(i => (merged.scores(i), merged.ids(i))).toSeq
    assert(got === items.sortBy { case (s, i) => (-s, i) }.take(7))
  }

  test("bounded-aggregate cosineTopK ≡ window-ranked reference on the corpus") {
    import org.apache.spark.sql.expressions.Window
    val emb = Corpus.embeddings(spark, sf0001)
    val n = Similarity.normed(emb)
    val q = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    val windowed = n.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val bounded = Similarity.cosineTopK(spark, emb, 5, 10)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(bounded === windowed)
  }

  test("lshTopK recall vs brute force is usable on the corpus") {
    val emb = Corpus.embeddings(spark, sf0001)
    val brute = Similarity.cosineTopK(spark, emb, 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(spark, emb, 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & approx).size.toDouble / brute.size
    // near-uniform corpus: LSH trades recall for ~14% candidate volume;
    // see Similarity.lshTopK scaladoc for the math
    assert(recall >= 0.15, s"recall $recall")
  }

  test("withMeasuredRecall reports the per-query set-intersection recall as a column") {
    val emb = Corpus.embeddings(spark, sf0001)
    val exact = Similarity.cosineTopK(spark, emb, 5, 10)
    // exact vs itself: recall is exactly 1.0 for every query, shape kept
    val self = Similarity.withMeasuredRecall(exact, exact)
    assert(self.columns.toSeq ===
      Seq("query_id", "rank", "neighbor_id", "cos_sim", "recall_at_k"))
    assert(self.count() === 50)
    assert(self.select("recall_at_k").distinct().as[Double].collect().toSeq === Seq(1.0))
    // approximate vs exact: the column equals the hand-computed
    // per-query intersection fraction
    val approx = Similarity.ivfTopK(spark, emb, 5, 10)
    val got = Similarity.withMeasuredRecall(approx, exact)
      .select("query_id", "recall_at_k").distinct()
      .as[(Long, Double)].collect().toMap
    val bruteSets = exact.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approxSets = approx.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((q, b) <- bruteSets)
      assert(got(q) === (b & approxSets(q)).size.toDouble / b.size, s"query $q")
  }

  test("sampled recall baseline: sampled queries match full mode, unsampled go null") {
    val emb = Corpus.embeddings(spark, sf0001)
    val approx = Similarity.ivfTopK(spark, emb, 5, 10)
    val fullMode = Similarity.withMeasuredRecall(
        approx, Similarity.cosineTopK(spark, emb, 5, 10))
      .select("query_id", "recall_at_k").distinct()
      .as[(Long, Double)].collect().toMap
    // baseline restricted to queries {0, 2}: their recall must equal the
    // full-mode value; queries outside the sample keep their approximate
    // rows with a null recall column (never dropped)
    val sampled = Similarity.withMeasuredRecall(
      approx,
      Similarity.cosineTopKForQueries(spark, emb, col("vec_id").isin(0L, 2L), 10))
    assert(sampled.count() === approx.count(),
      "sampling the baseline must not drop approximate rows")
    val byQuery = sampled.select("query_id", "recall_at_k").distinct()
      .as[(Long, Option[Double])].collect().toMap
    assert(byQuery(0L) === Some(fullMode(0L)))
    assert(byQuery(2L) === Some(fullMode(2L)))
    for (q <- Seq(1L, 3L, 4L))
      assert(byQuery(q).isEmpty, s"unsampled query $q must carry null recall")
  }

  test("persisted IVF index probe is bit-identical to the in-memory ivfTopK") {
    val emb = Corpus.embeddings(spark, sf0001)
    val root = tempDir("graft_ivf_idx_")
    val dir = root.toString
    val fromIndex = try {
      Similarity.buildIvfIndex(spark, emb, dir)
      Similarity.ivfTopKAgainstIndex(spark, emb.filter(col("vec_id") < 5), dir, k = 10)
        .as[(Long, Long, Long, Double)].collect().toSeq
    } finally graft.util.CacheRegistry.deleteRecursively(root)
    val inMemory = Similarity.ivfTopK(spark, emb, nQueries = 5, k = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fromIndex === inMemory,
      "deterministic fit + exact double round trip ⇒ identical results")
  }

  test("quantized IVF index (IVF-SQ8): smaller vector payload, ranking holds") {
    val emb = Corpus.embeddings(spark, sf0001)
    val full = tempDir("graft_ivff_").toString
    val sq = tempDir("graft_ivfq_").toString
    Similarity.buildIvfIndex(spark, emb, full)
    Similarity.buildIvfIndex(spark, emb, sq, quantized = true)
    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(d, "assigned"))
    }
    // at sf0.001 parquet footer/page overhead and list-of-tinyint level
    // encoding dilute the 8×-per-element win to ~1.6× file size; the
    // assertion is deliberately conservative (the per-element ratio is
    // what holds at scale)
    assert(dirBytes(sq) < (dirBytes(full) * 3) / 4,
      s"int8 codes must shrink the index materially: sq=${dirBytes(sq)} full=${dirBytes(full)}")
    val qs = emb.filter(col("vec_id") < 5)
    val fullTop = Similarity.ivfTopKAgainstIndex(spark, qs, full, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sqTop = Similarity.ivfTopKAgainstIndex(spark, qs, sq, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val overlap = fullTop.map { case (q, t) =>
      (t intersect sqTop(q)).size.toDouble / t.size }.sum / fullTop.size
    assert(overlap >= 0.9,
      f"SQ8 probe must agree with the full-precision index, got $overlap%.2f")
  }

  test("quantizeInt8: codes bounded, reconstruction within 0.5/scale, zero vector safe") {
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.99f)),
      (1L, Array(0.001f, -0.002f, 0.0005f, 0.0f)), // tiny magnitudes still span ±127
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))         // all-zero: scale 0, no div-by-zero
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(emb)
      .select("vec_id", "embedding", "scale", "q", "max_err")
      .as[(Long, Array[Float], Double, Seq[Byte], Double)].collect()
      .map(r => r._1 -> r).toMap
    for ((id, (_, orig, scale, codes, maxErr)) <- q if id != 2L) {
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id codes out of range")
      assert(codes.exists(c => math.abs(c) == 127),
        s"vec $id: the max-magnitude element must map to ±127")
      val worst = orig.zip(codes)
        .map { case (x, c) => math.abs(x.toDouble - c / scale) }.max
      assert(worst === maxErr, s"vec $id: max_err must be the observed worst error")
      assert(maxErr <= 0.5 / scale + 1e-12, s"vec $id: error exceeds the SQ8 bound")
    }
    val (_, _, zScale, zCodes, zErr) = q(2L)
    assert(zScale === 0.0 && zCodes.forall(_ == 0) && zErr === 0.0)
  }

  test("quantizeInt8: top-k over dequantized vectors keeps high recall vs exact") {
    // the point of SQ8 is serving ANN from 4×-smaller codes — prove the
    // quality holds: rebuild each embedding from (q, scale) and compare
    // brute-force top-10 neighbor sets against the float originals
    val emb = Corpus.embeddings(spark, sf0001)
    val deq = Similarity.quantizeInt8(emb)
      .select(col("vec_id"),
        transform(col("q"), c => c.cast("double") / col("scale")).as("embedding"))
    val exact = Similarity.cosineTopK(spark, emb, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.cosineTopK(spark, deq, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.map { case (qid, truth) =>
      (truth intersect approx(qid)).size.toDouble / truth.size
    }.sum / exact.size
    assert(recall >= 0.9, f"SQ8 recall@10 vs exact must stay high, got $recall%.2f")
  }

  test("withMeasuredRecall surfaces a query the approximate search returned NOTHING for") {
    val exact = Seq((0L, 1L, 10L, 0.9), (0L, 2L, 11L, 0.8),
        (1L, 1L, 12L, 0.7), (1L, 2L, 13L, 0.6))
      .toDF("query_id", "rank", "neighbor_id", "cos_sim")
    // approx found query 0's neighbors but nothing at all for query 1 —
    // the recall-0 case must appear as a row, not vanish from the output
    val approx = Seq((0L, 1L, 10L, 0.9), (0L, 2L, 11L, 0.8))
      .toDF("query_id", "rank", "neighbor_id", "cos_sim")
    val out = Similarity.withMeasuredRecall(approx, exact)
      .select("query_id", "recall_at_k").distinct()
      .as[(Long, Double)].collect().toMap
    assert(out === Map(0L -> 1.0, 1L -> 0.0),
      s"total recall failure must be visible as data: $out")
  }

  test("semDedup drops every non-minimal member of an identical group, keeps the rest") {
    // three exact-duplicate groups + two singletons: identical vectors
    // always share a nearest centroid (assignment is a function of the
    // vector value with deterministic tie-break), so within each group
    // exactly the min vec_id must keep; singletons keep regardless of
    // cluster placement
    val dup1 = Array(1.0f, 0.0f, 0.0f)
    val dup2 = Array(0.0f, 1.0f, 0.0f)
    val dup3 = Array(0.5f, 0.5f, 0.0f)
    val vecs = Seq(
      (0L, dup1, 0), (7L, dup1, 0), (3L, dup1, 0),
      (1L, dup2, 0), (9L, dup2, 0),
      (4L, dup3, 0), (5L, dup3, 0),
      (2L, Array(0.0f, 0.0f, 1.0f), 1),
      (8L, Array(-1.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedup(spark, vecs, k = 3, threshold = 0.999)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out.size === 9, "every input vector must be judged")
    assert(out.filter(_._2).keySet === Set(0L, 1L, 4L, 2L, 8L),
      s"group minima and singletons keep, got $out")
  }

  test("semDedup verdicts are invariant to input partitioning") {
    val emb = Corpus.embeddings(spark, sf0001)
    val a = Similarity.semDedup(spark, emb, k = 4, threshold = 0.8).collect()
    val b = Similarity.semDedup(spark, emb.repartition(7), k = 4, threshold = 0.8).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("pqTopK: ADC ranks same-pole vectors first on a planted 2-subspace corpus") {
    // 4-dim vectors, 2 subspaces of 2 dims, at two "poles" per subspace:
    // ids 0/1 are the queries AND (smallest fingerprints aside) corpus
    // members; the pole structure makes the right ADC ranking obvious —
    // a vector sharing both subspace poles with the query quantizes to
    // the query's own codes, so its ADC distance is minimal
    val pA = Array(1.0f, 0.0f); val pB = Array(0.0f, 1.0f)
    def v(a: Array[Float], b: Array[Float]) = a ++ b
    val vecs = Seq(
      (0L, v(pA, pA), 0), (1L, v(pB, pB), 1),
      (2L, v(pA, pA), 0), (3L, v(pB, pB), 1),
      (4L, v(pA, pB), 0), (5L, v(pB, pA), 1),
      (6L, v(pA, pA), 0), (7L, v(pB, pB), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.pqTopK(spark, vecs, nQueries = 2, k = 7,
        dim = 4, nSub = 2, codebookK = 4)
      .select("query_id", "rank", "neighbor_id", "adist")
      .as[(Long, Long, Long, Double)].collect()
    val q0 = out.filter(_._1 == 0L).sortBy(_._2)
    // exact same-pole-both-subspaces vectors (2, 6) rank above the mixed
    // (4, 5) and opposite (1, 3, 7) ones; their ADC distance equals the
    // query's own quantization distance (identical codes)
    assert(q0.take(2).map(_._3).toSet === Set(2L, 6L), s"got ${q0.toSeq}")
    assert(q0.take(2).forall(_._4 < q0(2)._4),
      "same-pole ADC strictly below the next tier")
    // self is excluded from its own neighbor list
    assert(!out.exists(r => r._1 == r._3))
    // every query ranks all 7 other vectors
    assert(out.groupBy(_._1).forall(_._2.length === 7))
  }

  test("ivfPqTopK: an exact duplicate of the query attains the minimal ADC distance") {
    // single cell (nCells = 1, nProbe = 1) so every member is scored
    // against the SAME query residual — there the invariant is exact:
    // the duplicate shares the query's codes, so ADC(q, dup) =
    // Σ_s d(qr[s], cb[code_q[s]]) is the minimum any member can attain.
    // (Across cells the bound does NOT hold — members of other cells
    // score against different query residuals — so a cross-cell version
    // of this assertion would be seed-dependent, not algebra.) The
    // duplicate need not be ALONE at the minimum: other vectors may
    // quantize to the query's codes too.
    val rnd = new java.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val q0 = vec()
    val vecs = ((0L, q0, 0) +: (1L to 30L).map(i => (i, vec(), 0)) :+ (99L, q0, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfPqTopK(spark, vecs, nQueries = 1, k = 5,
        dim = 8, nSub = 4, codebookK = 4, nCells = 1, nProbe = 1)
      .select("query_id", "rank", "neighbor_id", "adist")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._1 == 0L))
    val dup = out.find(_._3 == 99L)
    assert(dup.nonEmpty, s"the exact duplicate must reach the top-k: ${out.toSeq}")
    assert(dup.get._4 === out.head._4,
      s"nothing may beat the duplicate's ADC distance: ${out.toSeq}")
    assert(!out.exists(r => r._3 == 0L), "self excluded")
    assert(out.map(_._2).toSeq === (1L to out.length).toSeq, "dense ranks")
  }

  test("ivfPqTopK results are invariant to input partitioning") {
    val emb = Corpus.embeddings(spark, sf0001)
    val a = Similarity.ivfPqTopK(spark, emb, nQueries = 3, k = 5).collect()
    val b = Similarity.ivfPqTopK(spark, emb.repartition(7), nQueries = 3, k = 5).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("persisted PQ index probe is bit-identical to the in-memory pqTopK") {
    val emb = Corpus.embeddings(spark, sf0001)
    val idx = tempDir("graft_pq_").toString
    Similarity.buildPqIndex(spark, emb, idx, dim = 64, nSub = 8, codebookK = 16)
    val persisted = Similarity.pqTopKAgainstIndex(spark,
      emb.filter(col("vec_id") < 3), idx, k = 8).collect()
    val inMemory = Similarity.pqTopK(spark, emb, nQueries = 3, k = 8).collect()
    assert(persisted.toSeq === inMemory.toSeq,
      "the code-table probe must reproduce the in-memory ADC ranking exactly")
    // the serving payload is codes + codebook only — no float vector table
    val files = new java.io.File(idx).listFiles.map(_.getName).toSet
    assert(files.contains("codebook") && files.contains("codes")
      && files.contains("params.json"), s"index layout: $files")
  }

  test("PQ index probe fails loudly on a non-index dir and on a dim mismatch") {
    val emb = Corpus.embeddings(spark, sf0001)
    val notIdx = tempDir("graft_pq_no_").toString
    intercept[IllegalArgumentException] {
      Similarity.pqTopKAgainstIndex(spark, emb.limit(1), notIdx, k = 5)
    }
    val idx = tempDir("graft_pq_dim_").toString
    Similarity.buildPqIndex(spark, emb, idx, dim = 64, nSub = 8, codebookK = 4)
    import spark.implicits._
    val badQ = Seq((0L, Array(1.0f, 2.0f), 0)).toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      Similarity.pqTopKAgainstIndex(spark, badQ, idx, k = 5).collect()
    }
    assert(ex.getMessage != null, "a 2-dim query against a 64-dim index must fail")
  }

  test("pqTopK fails loudly on a vector that contradicts the declared dim") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 1)) // 2-dim intruder
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      Similarity.pqTopK(spark, vecs, nQueries = 1, k = 2,
        dim = 4, nSub = 2, codebookK = 2).collect()
    }
    assert(ex.getMessage != null)
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(spark, vecs, nQueries = 1, k = 2,
        dim = 4, nSub = 3, codebookK = 2)
    }
  }

  test("binaryTopK with a full rerank pool equals exact cosineTopK") {
    val emb = Corpus.embeddings(spark, sf0001).limit(120)
    val exact = Similarity.cosineTopK(spark, emb, nQueries = 4, k = 5).collect().toSeq
    val full = Similarity.binaryTopK(spark, emb, nQueries = 4, k = 5, rerank = 119)
      .collect().toSeq
    assert(full === exact,
      "a rerank pool covering the whole corpus must reproduce brute force exactly")
  }

  test("binaryTopK: Hamming prefilter keeps high recall at a 32-candidate pool") {
    val emb = Corpus.embeddings(spark, sf0001)
    val exact = Similarity.cosineTopK(spark, emb, nQueries = 8, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.binaryTopK(spark, emb, nQueries = 8, k = 10, rerank = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5,
      s"sign-bit Hamming should preserve most exact neighbors in the pool (got $recall)")
    // and the result is deterministic under partitioning
    val again = Similarity.binaryTopK(spark, emb.repartition(7), nQueries = 8,
      k = 10, rerank = 32).collect().toSeq
    assert(again === Similarity.binaryTopK(spark, emb, nQueries = 8, k = 10,
      rerank = 32).collect().toSeq)
  }

  test("binaryTopK codes: aligned vectors collide, a sign-flipped vector is popcount-far") {
    // dims 1..63 drive the code; identical signs => identical codes => the
    // aligned pair must lead each other's ranking after rerank
    val base = Array.tabulate(64)(i => if (i % 3 == 0) 0.5f else -0.25f)
    val flipped = base.map(x => -x)
    val vecs = Seq(
      (0L, base, 0), (1L, base.map(x => x * 2f), 0), (2L, flipped, 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.binaryTopK(spark, vecs, nQueries = 1, k = 2, rerank = 2)
      .select("rank", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(top(0)._2 === 1L && math.abs(top(0)._3 - 1.0) < 1e-12,
      "the scaled copy (identical code, cosine 1) must rank first")
    assert(top(1)._2 === 2L && math.abs(top(1)._3 + 1.0) < 1e-12)
  }

  test("kCenterGreedy picks the planted far poles before anything near the cluster") {
    // a tight cluster near the origin plus two distant poles: greedy must
    // take both poles in rounds 2-3 regardless of which seed it draws
    val vecs = (
      (0L until 10L).map(i => (i, Array(0.01f * i, 0.0f, 0.0f, 0.0f), 0)) ++
      Seq((100L, Array(10.0f, 0.0f, 0.0f, 0.0f), 1),
          (101L, Array(-10.0f, 10.0f, 0.0f, 0.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val picks = Similarity.kCenterGreedy(spark, vecs, k = 3)
      .select("round", "vec_id", "picked_dist").as[(Long, Long, Double)].collect()
    assert(picks.length === 3)
    assert(picks(0)._3 === 0.0, "seed pick carries distance 0")
    assert(Set(100L, 101L).subsetOf(picks.map(_._2).toSet),
      s"both far poles must be among the first three picks: ${picks.toSeq}")
    // the covering-radius trace never increases after the poles are in
    val more = Similarity.kCenterGreedy(spark, vecs, k = 6)
      .select("picked_dist").as[Double].collect()
    assert(more.drop(1).sliding(2).forall(w => w(0) >= w(1)),
      s"min-distance trace must be nonincreasing: ${more.toSeq}")
    // deterministic under partitioning
    val again = Similarity.kCenterGreedy(spark, vecs.repartition(5), k = 6).collect().toSeq
    assert(again === Similarity.kCenterGreedy(spark, vecs, k = 6).collect().toSeq)
  }

  test("contrastivePairs: roles partition correctly and never overlap") {
    val emb = Corpus.embeddings(spark, sf0001)
    val rows = Similarity.contrastivePairs(spark, emb, nQueries = 3,
      nHard = 2, nRand = 2, seed = "t")
      .select("query_id", "role", "role_rank", "vec_id", "cos_sim")
      .as[(Long, String, Long, Long, Double)].collect()
    assert(rows.length === 3 * (1 + 2 + 2))
    for (qid <- 0L until 3L) {
      val mine = rows.filter(_._1 == qid)
      val pos = mine.filter(_._2 == "positive")
      val hard = mine.filter(_._2 == "hard_neg")
      val rand = mine.filter(_._2 == "rand_neg")
      assert(pos.length === 1 && hard.length === 2 && rand.length === 2)
      // the positive is the best-ranked: its cosine beats every hard neg
      assert(hard.forall(h => pos.head._5 >= h._5))
      // roles never share a vec_id, and nothing pairs with itself
      val all = mine.map(_._4)
      assert(all.distinct.length === all.length && !all.contains(qid))
      // random negatives score below the positive (they're outside the top ranks)
      assert(rand.forall(r => r._5 <= pos.head._5))
    }
    // seed keys the random draw
    val other = Similarity.contrastivePairs(spark, emb, nQueries = 3,
      nHard = 2, nRand = 2, seed = "u")
      .filter(col("role") === "rand_neg").select("vec_id").as[Long].collect().toSet
    val base = rows.filter(_._2 == "rand_neg").map(_._4).toSet
    assert(other !== base, "a different seed must draw different random negatives")
    // hard-negatives-only mining (nRand = 0) is a legal configuration
    val hardOnly = Similarity.contrastivePairs(spark, emb, nQueries = 2,
      nHard = 2, nRand = 0, seed = "t")
      .select("role").as[String].collect()
    assert(hardOnly.count(_ == "positive") === 2 &&
      hardOnly.count(_ == "hard_neg") === 4 && hardOnly.length === 6)
  }

  test("kCenterGreedy truncates past corpus exhaustion; empty corpus fails loudly") {
    val three = Seq(
      (0L, Array(0.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    // k beyond the corpus: every vector becomes a center, no crash
    val picks = Similarity.kCenterGreedy(spark, three, k = 10)
      .select("vec_id").as[Long].collect()
    assert(picks.sorted.toSeq === Seq(0L, 1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(spark, three.filter(col("vec_id") < 0), k = 2)
    }
    assert(ex.getMessage.contains("non-empty"))
  }

  test("lloydKMeans separates planted blobs and is partitioning-invariant") {
    // two tight blobs far apart: after iterations every member must land
    // with its blob-mates, whichever centroid ids they drew
    val blobA = (0L until 6L).map(i => (i, Array(10.0f + 0.01f * i, 0.0f), 0))
    val blobB = (10L until 16L).map(i => (i, Array(-10.0f, 0.01f * (i - 10)), 1))
    val vecs = (blobA ++ blobB).toDF("vec_id", "embedding", "label")
    val out = Similarity.lloydKMeans(spark, vecs, k = 2, iterations = 4)
      .select("vec_id", "cluster", "sq_dist").as[(Long, Long, Double)].collect()
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size === 2)
    assert(byCluster.values.toSet ===
      Set(blobA.map(_._1).toSet, blobB.map(_._1).toSet),
      s"blobs must separate exactly: $byCluster")
    // members sit near their recentered blob mean: all sq_dists tiny
    assert(out.forall(_._3 < 0.01), s"post-recentering distances: ${out.toSeq}")
    val again = Similarity.lloydKMeans(spark, vecs.repartition(7), k = 2,
      iterations = 4).collect().toSeq
    assert(again === Similarity.lloydKMeans(spark, vecs, k = 2,
      iterations = 4).collect().toSeq)
  }

  test("kmeansPlusPlusSeed spreads seeds across planted far blobs; inertia collapses") {
    // three tight blobs 1000 apart: after the uniform first draw, D² to
    // unseeded blobs is ~10⁶ vs ~10⁻² within a seeded one, so the
    // ln(u)/D² draw picks an unseeded blob unless u lands within 1e-6 of
    // 1 — each round covers a new blob, and inertia collapses with it
    def blob(base: Long, x: Float, y: Float) =
      (0L until 8L).map(i => (base + i, Array(x + 0.01f * i, y), 0))
    val vecs = (blob(0L, 0f, 0f) ++ blob(100L, 1000f, 0f) ++ blob(200L, 0f, 1000f))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeansPlusPlusSeed(spark, vecs, k = 3, seed = "spec")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_._2 / 100L).toSet === Set(0L, 1L, 2L),
      s"one seed per blob expected: ${out.toSeq}")
    // all blobs covered → only the within-blob 0.01-grid spread remains
    assert(out.last._3 < 1.0 && out.head._3 > 1e5,
      s"inertia must collapse from ~10⁶ to sub-1: ${out.toSeq}")
    assert(out.sliding(2).forall(w => w(1)._3 <= w(0)._3),
      "inertia is monotone non-increasing in the seed count")
    // pure function of (seed, corpus): partitioning cannot move a draw
    val again = Similarity.kmeansPlusPlusSeed(spark, vecs.repartition(7),
      k = 3, seed = "spec").collect().toSeq
    assert(again === Similarity.kmeansPlusPlusSeed(spark, vecs, k = 3,
      seed = "spec").collect().toSeq)
  }

  test("kmeansPlusPlusSeed excludes D²=0 duplicates and fails loudly past exhaustion") {
    // two distinct positions, one duplicated: the duplicate can never be
    // drawn (probability 0 in the paper), so k=3 exhausts the corpus
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val two = Similarity.kmeansPlusPlusSeed(spark, vecs, k = 2, seed = "dup")
      .as[(Long, Long, Double)].collect()
    assert(two.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L)))
    // the two seeds sit at the two distinct positions → inertia exactly 0
    assert(two.last._3 === 0.0)
    intercept[IllegalArgumentException] {
      Similarity.kmeansPlusPlusSeed(spark, vecs, k = 3, seed = "dup")
    }
    intercept[IllegalArgumentException] {
      Similarity.kmeansPlusPlusSeed(spark, vecs, k = 0, seed = "dup")
    }
  }

  test("lloydKMeans keeps an emptied cluster's previous centroid") {
    // k = 3 over 2 distinct points: one centroid must go memberless and
    // survive via the carry rule rather than vanishing (which would make
    // the next assignment round throw or reshuffle ids)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.lloydKMeans(spark, vecs, k = 3, iterations = 3)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(out.size === 3)
    assert(out(0L) === out(1L), "identical points share a cluster")
    assert(out(2L) !== out(0L), "the far point keeps its own cluster")
  }

  test("MIPS ranks by raw dot where cosine would not; the lift preserves order") {
    // query 0 = [1, 0]. Neighbor 1 = [0.9, 0] has cosine 1.0 but dot 0.9;
    // neighbor 2 = [5, 5] has cosine ~0.707 but dot 5.0 — MIPS must put
    // the long vector first, cosine the aligned one.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(5.0f, 5.0f)), (3L, Array(0.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.mipsExactForQueries(spark, vecs, col("vec_id") === 0, k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(exact.map(r => (r._2, r._3)).toSeq === Seq((1L, 2L), (2L, 1L), (3L, 3L)))
    assert(math.abs(exact.head._4 - 5.0) < 1e-9)
    val cosFirst = Similarity.cosineTopKForQueries(spark, vecs, col("vec_id") === 0, k = 1)
      .as[(Long, Long, Long, Double)].collect().head
    assert(cosFirst._3 === 1L, "cosine prefers the aligned short vector")
    // the norm-augmented approximate path at full Hamming radius (every
    // candidate scored) reproduces the exact MIPS ranking — the lift
    // changed bucketing only, never the verified score
    val approx = Similarity.mipsTopK(spark, vecs, nQueries = 1, k = 3,
      numPlanes = 8, maxHamming = 8)
      .as[(Long, Long, Long, Double)].collect()
    assert(approx.map(r => (r._2, r._3, r._4)).toSeq ===
      exact.map(r => (r._2, r._3, r._4)).toSeq)
    // partitioning invariance of the lift (M is a corpus aggregate)
    val again = Similarity.mipsTopK(spark, vecs.repartition(3), nQueries = 1,
      k = 3, numPlanes = 8, maxHamming = 8).collect()
    assert(again.map(_.toSeq).toSeq === approx.map(v =>
      Seq(v._1, v._2, v._3, v._4)).toSeq)
  }

  test("pcaTopComponent recovers a planted dominant direction") {
    // points at t * u + small orthogonal jitter, u = (3,4)/5: PC1 must
    // align with u and explain nearly all variance
    val u = Array(0.6, 0.8)
    val pts = (-10 to 10).map { t =>
      val jit = (t % 3) * 0.01 // deterministic tiny off-axis component
      (t.toLong + 100L,
        Array((t * u(0) - jit * u(1)).toFloat, (t * u(1) + jit * u(0)).toFloat),
        0)
    }.toDF("vec_id", "embedding", "label")
    val rows = Similarity.pcaTopComponent(spark, pts, iterations = 12)
      .collect()
    assert(rows.length === 2)
    val loading = rows.map(_.getAs[Double]("loading"))
    val cosU = math.abs(loading(0) * u(0) + loading(1) * u(1))
    assert(cosU > 0.9999, s"PC1 must align with the planted axis: $cosU")
    assert(math.abs(math.sqrt(loading.map(x => x * x).sum) - 1.0) < 1e-9,
      "loading vector must be unit norm")
    val varFrac = rows.head.getAs[Double]("var_frac")
    assert(varFrac > 0.999, s"planted axis carries ~all variance: $varFrac")
    // lambda is the variance along PC1: for t=-10..10, var(t)=110/3ish
    // exact population variance of t over 21 points = (2*sum 1..10 of
    // t^2)/21 = 770/21; jitter adds < 1e-3
    val lambda = rows.head.getAs[Double]("lambda")
    assert(math.abs(lambda - 770.0 / 21) < 0.01, s"lambda off: $lambda")
    // partitioning invariance (every sum rides the decimal detour)
    val again = Similarity.pcaTopComponent(spark, pts.repartition(5),
      iterations = 12).collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("jlDistortion preserves one-hot norms exactly and centers ratios on 1") {
    // Projecting a one-hot vector: y_j = ±1/sqrt(k), so ||y||^2 =
    // k * (1/k) = 1 EXACTLY (sums of 1/16 are exact in binary) — the
    // hand-checkable corner of the JL lemma. Pair each e_i with the
    // zero vector: d2_orig = d2_proj = 1, ratio = 1.0 bit-exactly.
    val oneHots = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(16)(j => if (j == i) 1.0f else 0.0f), 0)
    } :+ ((8L, Array.fill(16)(0.0f), 0))
    val got = graft.operators.Similarity.jlDistortion(
        spark, oneHots.toDF("vec_id", "embedding", "label"),
        outDims = 16, nSample = 9)
      .as[(Long, Long, Double, Double, Double)].collect()
    val vsZero = got.filter(_._2 == 8L)
    assert(vsZero.length === 8)
    vsZero.foreach { p =>
      assert(p._3 === 1.0 && p._4 === 1.0 && p._5 === 1.0, s"one-hot pair $p")
    }
    // e_i vs e_j distances: orig exactly 2; projected ratios average ~1
    val cross = got.filter(_._2 < 8L)
    assert(cross.forall(_._3 === 2.0))
    val meanRatio = cross.map(_._5).sum / cross.length
    assert(math.abs(meanRatio - 1.0) < 0.35, s"JL mean ratio: $meanRatio")
    // partitioning invariance (pure per-row expressions + a sample join)
    val again = graft.operators.Similarity.jlDistortion(
        spark, oneHots.toDF("vec_id", "embedding", "label").repartition(5),
        outDims = 16, nSample = 9)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(again.sortBy(p => (p._1, p._2)).toSeq === got.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("pcaTopComponent fails fast on a zero-variance corpus instead of emitting NaNs") {
    val flat = Seq(
      (1L, Array(0.5f, 0.5f), 0),
      (2L, Array(0.5f, 0.5f), 0),
      (3L, Array(0.5f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaTopComponent(spark, flat, iterations = 2).collect()
    }
    assert(e.getMessage.contains("zero-variance"))
  }
}
