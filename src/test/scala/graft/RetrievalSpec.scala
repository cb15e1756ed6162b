package graft

import graft.operators.Retrieval

/** Reciprocal-rank fusion (Cormack et al. SIGIR'09) on hand-checkable
  * rank lists. */
class RetrievalSpec extends SparkTestBase {
  import spark.implicits._

  private def ranked(rows: (Long, Long)*) =
    rows.toSeq.toDF("doc_id", "rank")

  test("rrfFuse sums 1/(k+rank) across systems; absent docs contribute nothing") {
    val a = ranked(1L -> 1L, 2L -> 2L, 3L -> 3L)
    val b = ranked(2L -> 1L, 4L -> 2L)
    val out = Retrieval.rrfFuse(Seq(a, b), "doc_id", "rank", kRrf = 60, topK = 10)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def c(r: Long) = BigDecimal(1.0 / (60 + r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2 is ranked by both systems and must fuse ahead of doc 1
    // (rank 1 in one system only)
    assert(out(2L) === ((2L, c(2) + c(1))))
    assert(out(1L) === ((1L, c(1))))
    assert(out(4L) === ((1L, c(2))))
    assert(out(2L)._2 > out(1L)._2, "two mid ranks beat one top rank here")
  }

  test("rrfFuse: topK bounds output, ties break on doc id") {
    // two single-system docs at the same rank tie on rrf → doc_id order
    val a = ranked(7L -> 1L)
    val b = ranked(3L -> 1L)
    val out = Retrieval.rrfFuse(Seq(a, b), "doc_id", "rank", topK = 1)
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(3L), s"smaller doc id wins the tie: ${out.toSeq}")
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, "doc_id", "rank")
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a), "doc_id", "rank", kRrf = 0)
    }
  }

  test("bm25 index probe reproduces the hand-computed score and survives rebuilds") {
    val docs = Seq(
      (1L, "spark shuffle exchange spark"),
      (2L, "spark broadcast"),
      (3L, "window function frame"))
      .toDF("doc_id", "text")
    val dir = tempDir("bm25idx").toString
    Retrieval.buildBm25Index(spark, docs, dir, nBuckets = 4, k1 = 1.2, b = 0.75)
    val out = Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 10)
      .select("doc_id", "n_terms_hit", "bm25").as[(Long, Long, Double)].collect()
    // hand-computed: n_docs=3, total_dl=9, avgdl=3; df(spark)=2
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def w(tf: Long, dl: Long) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1).toSeq === Seq(1L, 2L), "ranked by score desc")
    assert(out.map(_._2).toSeq === Seq(1L, 1L), "one query term hit per doc")
    assert(math.abs(out(0)._3 - round6(idf * w(2, 4))) < 1e-9)
    assert(math.abs(out(1)._3 - round6(idf * w(1, 2))) < 1e-9)
    // rebuild over the same corpus is idempotent
    Retrieval.buildBm25Index(spark, docs, dir, nBuckets = 4, k1 = 1.2, b = 0.75)
    val again = Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 10)
      .collect().toSeq
    assert(again === Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 10)
      .collect().toSeq)
    // probing a non-index dir fails loudly; duplicate terms rejected
    val empty = tempDir("notidx").toString
    intercept[IllegalArgumentException] {
      Retrieval.bm25AgainstIndex(spark, empty, Seq("spark"), k = 1)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25AgainstIndex(spark, dir, Seq("spark", "spark"), k = 1)
    }
  }

  test("a rebuild that dies mid-way leaves no probe-able stale index") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "spark shuffle"), (2L, "spark broadcast"))
      .toDF("doc_id", "text")
    val dir = tempDir("bm25gen").toString
    Retrieval.buildBm25Index(spark, docs, dir, nBuckets = 4)
    assert(Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 2).count() === 2)
    // poison the rebuild: text evaluation throws once the job runs, so
    // the build dies after the validity marker is dropped but before any
    // consistent index exists
    val poisoned = docs.select(col("doc_id"),
      expr("cast(raise_error('mid-build failure') as string)").as("text"))
    intercept[Throwable] {
      Retrieval.buildBm25Index(spark, poisoned, dir, nBuckets = 4)
    }
    // the half-rebuilt dir must fail loudly, not score against stale stats
    val ex = intercept[IllegalArgumentException] {
      Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 2)
    }
    assert(ex.getMessage.contains("not a BM25 index"))
    // a successful rebuild restores the probe
    Retrieval.buildBm25Index(spark, docs, dir, nBuckets = 4)
    assert(Retrieval.bm25AgainstIndex(spark, dir, Seq("spark"), k = 2).count() === 2)
  }

  test("an index rebuilt into the same dir over another corpus equals a fresh build: bm25, ivf") {
    def dirs(d: String, sub: String) = new java.io.File(d, sub).list().filter(_.contains("=")).sorted.toSeq
    locally {
      val old = Seq(
        (1L, "apple banana cherry date elder"),
        (2L, "apple fig grape honey"),
        (3L, "apple kiwi lemon mango nut"),
        (4L, "kiwi olive pear quince rye zebra")).toDF("doc_id", "text")
      val docs = Seq((1L, "zebra"), (2L, "zebra zebra")).toDF("doc_id", "text")
      val dir = tempDir("bm25re").toString
      val fresh = tempDir("bm25fresh").toString
      Retrieval.buildBm25Index(spark, old, dir, nBuckets = 8)
      Retrieval.buildBm25Index(spark, docs, dir, nBuckets = 8)
      Retrieval.buildBm25Index(spark, docs, fresh, nBuckets = 8)
      def probe(d: String, term: String) =
        Retrieval.bm25AgainstIndex(spark, d, Seq(term), k = 10).collect().toSeq
      Seq("apple", "zebra", "kiwi").foreach(t => assert(probe(dir, t) === probe(fresh, t), s"probe $t"))
      assert(dirs(dir, "postings") === dirs(fresh, "postings"), "only the fresh build's buckets are left")
    }
    locally {
      import graft.operators.Similarity
      val old = (0 until 8).map(i => (i.toLong, Seq(math.cos(i * 0.7), math.sin(i * 0.7), i * 0.1)))
        .toDF("vec_id", "embedding")
      // three equal vectors: both initial centroids are that vector, so
      // every vector joins cell 0 and cell 1 stays empty
      val docs = (10L to 12L).map(i => (i, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
      val dir = tempDir("ivfre").toString
      val fresh = tempDir("ivffresh").toString
      Similarity.buildIvfIndex(spark, old, dir, nCells = 2)
      Similarity.buildIvfIndex(spark, docs, dir, nCells = 2)
      Similarity.buildIvfIndex(spark, docs, fresh, nCells = 2)
      val q = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
      def probe(d: String) =
        Similarity.ivfTopKAgainstIndex(spark, q, d, k = 20, nProbe = 2).collect().toSeq
      assert(probe(dir) === probe(fresh), "a probe of the empty cell finds no old vector")
      assert(dirs(dir, "assigned") === dirs(fresh, "assigned"), "only the fresh build's cells are left")
    }
  }
}
