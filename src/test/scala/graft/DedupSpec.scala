package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup family on planted duplicates — exact, MinHash+LSH, SimHash,
  * blocked Jaccard. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
  private def docs = Seq(
    (0L, base, "s1"),
    (1L, base, "s1"),                                   // exact dup of 0
    (2L, base.replace("delta", "DELTA-EDIT"), "s2"),    // near dup of 0
    (3L, "one two three four five six seven eight nine ten", "s2"),
    (4L, "completely different words nothing shared here at all ok then", "s1"))
    .toDF("doc_id", "text", "source")

  test("exact dedup finds the planted pair and nothing else") {
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("n_copies") === 2)
    assert(groups(0).getAs[Long]("keep_id") === 0)
    assert(groups(0).getAs[Long]("max_id") === 1)
    val stats = Dedup.exactDedupStats(docs).head()
    assert(stats.getAs[Long]("n_docs") === 5)
    assert(stats.getAs[Long]("n_distinct_texts") === 4)
    assert(stats.getAs[Long]("n_dup_rows") === 1)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact pair")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      "unrelated docs must not pair")
  }

  test("minhash jaccard values equal exact brute-force jaccard") {
    import graft.functions.TextFunctions
    val shingled = Dedup.withShingles(docs)
    val brute = shingled.as("x").join(shingled.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        TextFunctions.jaccard(col("x.shingles"), col("y.shingles")).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh === brute)
  }

  test("simhash: identical docs at distance 0; near dups within 3") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Int)].collect()
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((0L, 1L)) === 0, "identical docs → identical simhash")
    assert(!asMap.keySet.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc excluded")
  }

  test("blocked jaccard only pairs within the block") {
    val pairs = Dedup.blockedJaccardPairs(docs, "source", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // 0 and 1 share source s1; 2 is in s2, so (0,2)/(1,2) are unreachable
    assert(pairs === Set((0L, 1L)))
  }

  private def clustersOf(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Dedup.dupClusters(pairs.toDF("doc_a", "doc_b"))
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("crossCorpusNearDups: catches the paraphrased leak, ignores unrelated benchmarks") {
    // a NON-repetitive base (the shared `base` repeats its ten words 5×,
    // so its distinct-shingle set is cyclic and tiny — one word edit
    // there drops Jaccard to ~0.5, which is a property of the fixture,
    // not the operator)
    val sent = (1 to 30).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (0L, sent, "s1"),
      (1L, sent, "s1"), // exact dup of 0
      (3L, (1 to 30).map(i => s"other$i").mkString(" "), "s2"),
      (4L, "completely different words nothing shared here at all ok then", "s1"))
      .toDF("doc_id", "text", "source")
    // benchmark 100 paraphrases train 0/1 (last word edited → shingle
    // Jaccard 27/29 ≈ 0.93); benchmark 101 shares nothing
    val bench = Seq(
      (100L, sent.replace("tok30", "leaked"), "b"),
      (101L, "zero overlap with the training corpus in any shingle xx yy zz", "b"))
      .toDF("doc_id", "text", "source")
    val hits = graft.operators.Dedup.crossCorpusNearDups(train, bench)
      .as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(_._2).distinct === Seq(100L), hits.toString)
    assert(hits.map(_._1).sorted === Seq(0L, 1L), hits.toString)
    assert(hits.forall(h => h._3 >= 0.8 && h._3 <= 1.0), hits.toString)
    graft.util.CacheRegistry.releaseQuery(spark)
  }

  test("dupClusters: star, chain, and bridged components all label to the min id") {
    // star {0,1,2} around 0; CHAIN 10-11-12-13 (10,13 never paired directly);
    // bridge: {20,21} and {22,23} connected only through (21,22)
    val m = clustersOf(Seq(
      (0L, 1L), (0L, 2L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (22L, 23L), (21L, 22L)))
    assert(Seq(0L, 1L, 2L).forall(m(_) === ((0L, 3L))), "star labels to hub's min id")
    assert(Seq(10L, 11L, 12L, 13L).forall(m(_) === ((10L, 4L))),
      "chain endpoints join transitively")
    assert(Seq(20L, 21L, 22L, 23L).forall(m(_) === ((20L, 4L))),
      "bridge pair fuses two components")
    assert(m.size === 11, "only docs appearing in pairs are labeled")
  }

  test("dupClusters: empty pair set yields an empty clustering") {
    assert(clustersOf(Seq.empty).isEmpty)
  }

  test("dupClusters: 100-node chain exceeds the propagation bound and converges via star fallback") {
    // diameter 99 ≫ maxIter — min-label propagation cannot close this;
    // the alternating large-star/small-star fallback must take over
    graft.util.PhaseTimer.drainCounts() // isolate this run's counts
    val chain = (0L until 99L).map(i => (i, i + 1))
    val rows = Dedup.dupClusters(chain.toDF("doc_a", "doc_b"), maxIter = 4)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(rows.length === 100)
    assert(rows.forall { case (_, c, s) => c == 0L && s == 100L },
      s"every chain node labels to 0 with size 100: ${rows.take(5).toSeq}")
    // rounds-as-data: both loops report their round counts, and the
    // fallback's stays logarithmic in the 100-node diameter
    val counts = graft.util.PhaseTimer.drainCounts()
    assert(counts("cc_prop_rounds") === 4L, s"propagation hit its bound: $counts")
    val alt = counts("cc_alt_rounds")
    assert(alt >= 3L && alt <= 12L,
      s"alternating rounds must be ~log n, not ~diameter: $counts")
  }

  test("alternatingComponents: labels every component to its min; agrees with propagation") {
    val edges = Seq((1L, 0L), (1L, 2L), (5L, 6L), (30L, 10L), (10L, 20L))
      .toDF("src", "dst")
    val labels = Dedup.alternatingComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 20L -> 10L, 30L -> 10L))
    // both algorithms produce the same clustering on the mixed graph
    val pairs = Seq((0L, 1L), (0L, 2L), (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (22L, 23L), (21L, 22L))
    val viaFallback = Dedup.dupClusters(pairs.toDF("doc_a", "doc_b"), maxIter = 1)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
      .map { case (d, c, s) => d -> ((c, s)) }.toMap
    assert(viaFallback === clustersOf(pairs),
      "fallback path must reproduce the propagation clustering")
  }

  test("incremental dedup: a new batch finds its dups in the index, not in itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    Dedup.buildNearDupIndex(docs, dir) // corpus: docs 0-4 indexed
    // batch: 10/11 = exact dups of indexed 2 (and j≈0.54 near-dups of 0/1
    // — the same delta-edit the in-corpus LSH test relies on; at j≈0.54 an
    // 8×4 banding detects with p≈0.5, so a fresh edit word could
    // legitimately miss); 12 = unrelated
    val batch = Seq(
      (10L, base.replace("delta", "DELTA-EDIT"), "s9"),
      (11L, base.replace("delta", "DELTA-EDIT"), "s9"),
      (12L, "utterly disjoint vocabulary appears in this very document body", "s9"))
      .toDF("doc_id", "text", "source")
    val hits = Dedup.nearDupsAgainstIndex(batch, dir, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hits === Set((0L, 10L), (1L, 10L), (2L, 10L), (0L, 11L), (1L, 11L), (2L, 11L)),
      "batch docs pair with INDEXED near-dups only — (10,11) is not reported " +
        "and unrelated 12 pairs with nothing")
    // identity guard: re-probing an already-indexed doc must not self-pair
    val rerun = Dedup.nearDupsAgainstIndex(docs.filter($"doc_id" === 0L), dir, threshold = 0.99)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(rerun === Set((1L, 0L)), "doc 0 finds its exact dup 1 but never itself")
    // a probe with different signing parameters would silently find ZERO
    // candidates — it must fail loudly instead
    val e = intercept[IllegalArgumentException](
      Dedup.nearDupsAgainstIndex(batch, dir, numHashes = 64, bands = 16))
    assert(e.getMessage.contains("built with"), e.getMessage)
    intercept[IllegalArgumentException](
      Dedup.buildNearDupIndex(docs, dir, numHashes = 32, bands = 7))
  }

  test("registerInNearDupIndex: tomorrow's batch dedups against today's, idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reg_").toString
    Dedup.buildNearDupIndex(docs, dir) // base corpus: docs 0-4
    // day 1: doc 20 is fresh text, unseen by the base corpus
    val day1Text = "completely novel sentences appear in the day one drop " * 5
    val day1 = Seq((20L, day1Text, "d1")).toDF("doc_id", "text", "source")
    assert(Dedup.nearDupsAgainstIndex(day1, dir, threshold = 0.5).isEmpty,
      "day-1 doc is unseen by the base index")
    Dedup.registerInNearDupIndex(day1, dir, batchId = "day1")
    // day 2: doc 30 exactly dups day-1's doc 20 — only the registration
    // can catch it (the base index has never seen that text)
    val day2 = Seq((30L, day1Text, "d2")).toDF("doc_id", "text", "source")
    val hits = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(hits === Set((20L, 30L, 1.0)),
      s"day-2 dup must pair with the REGISTERED day-1 doc: $hits")
    // replaying day-1's registration overwrites its own partition — the
    // probe result (and the verify arithmetic) is unchanged, not doubled
    Dedup.registerInNearDupIndex(day1, dir, batchId = "day1")
    val replay = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(replay === hits, "re-registration must be idempotent")
    // excludeBatch: a probe-then-register retry must not see its own
    // partial registration
    Dedup.registerInNearDupIndex(day2, dir, batchId = "day2")
    val retried = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5,
        excludeBatch = Some("day2"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(retried === Set((20L, 30L)),
      s"retry excludes its own registration, keeps everything else: $retried")
    // a doc accidentally registered under TWO labels (fresh-checkpoint
    // re-run) duplicates its index rows; countDistinct in the verify
    // keeps the intersection — and so the jaccard — truthful
    Dedup.registerInNearDupIndex(day1, dir, batchId = "day1-again")
    val doubled = Dedup.nearDupsAgainstIndex(day2, dir, threshold = 0.5,
        excludeBatch = Some("day2"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(doubled === Set((20L, 30L, 1.0)),
      s"duplicate registration must not inflate the intersection: $doubled")
    // guards: the base label, unsafe labels, and mismatched params all fail loudly
    intercept[IllegalArgumentException](
      Dedup.registerInNearDupIndex(day1, dir, batchId = Dedup.BaseBatch))
    intercept[IllegalArgumentException](
      Dedup.registerInNearDupIndex(day1, dir, batchId = "a/b"))
    intercept[IllegalArgumentException](
      Dedup.registerInNearDupIndex(day1, dir, batchId = "ok", numHashes = 64, bands = 16))
  }

  test("index verify uses plain count on single-label indexes, distinct past one label") {
    val dir = java.nio.file.Files.createTempDirectory("graft_agg_").toString
    Dedup.buildNearDupIndex(docs, dir)
    val batch = Seq((10L, base, "s9")).toDF("doc_id", "text", "source")
    def verifyUsesDistinct(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.toLowerCase.contains("count(distinct")
    // fresh __base__-only index: duplicate registration is impossible, so
    // the cheap exact count must be planned (this is the contamination
    // audit's shape — the expand-based distinct tripled its verify stage)
    assert(!verifyUsesDistinct(Dedup.nearDupsAgainstIndex(batch, dir, threshold = 0.5)),
      "single-label index must not pay the expand-based distinct")
    Dedup.registerInNearDupIndex(batch, dir, batchId = "day1")
    // two labels: a doc could be registered under both, so the verify
    // must be duplicate-immune
    assert(verifyUsesDistinct(Dedup.nearDupsAgainstIndex(batch, dir, threshold = 0.5)),
      "multi-label index keeps the duplicate-immune countDistinct")
    // excludeBatch prunes day1 back out — single surviving label again
    assert(!verifyUsesDistinct(Dedup.nearDupsAgainstIndex(batch, dir, threshold = 0.5,
        excludeBatch = Some("day1"))),
      "excludeBatch shrinking the inventory to one label restores plain count")
  }

  test("dupClusters on minhash pairs keeps one doc per planted dup group") {
    val clusters = Dedup.dupClusters(Dedup.minhashNearDups(docs, threshold = 0.5))
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(clusters === Map(0L -> 0L, 1L -> 0L, 2L -> 0L),
      "the exact+near dup trio forms one cluster keyed by doc 0; 3/4 untouched")
  }

  test("ngramContamination flags exactly the eval docs sharing a verbatim n-gram") {
    // 13 tokens lifted verbatim from the train doc, wrapped in fresh text:
    // whole-doc similarity is low, but decontamination must still flag it
    val lifted = (1 to 13).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (0L, s"train document starts here $lifted and then keeps going with more words"),
      (1L, "another train document entirely unrelated to anything in the eval split"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"totally new framing around $lifted closing words differ completely now"),
      (11L, "an eval document with no overlap whatsoever in any thirteen gram sliding window at all"),
      (12L, "short doc"))                       // < 13 tokens → no grams, no row
      .toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, eval, n = 13)
      .select("doc_id", "n_overlap", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(10L, 11L), "doc 12 has no 13-grams")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._3 && byId(10L)._2 >= 1, s"doc 10 lifted a train 13-gram: ${byId(10L)}")
    assert(!byId(11L)._3 && byId(11L)._2 === 0, s"doc 11 is clean: ${byId(11L)}")
    // overlap counting is per distinct gram: doc sharing a 14-token run
    // with train shares exactly two 13-grams
    val run14 = (1 to 14).map(i => s"w$i").mkString(" ")
    val t2 = Seq((0L, s"prefix $run14 suffix")).toDF("doc_id", "text")
    val e2 = Seq((20L, s"other intro $run14 other outro")).toDF("doc_id", "text")
    val two = Dedup.ngramContamination(t2, e2, n = 13)
      .select("n_overlap").as[Long].head()
    assert(two === 2L, s"a shared 14-token run contains exactly 2 distinct 13-grams: $two")
  }

  test("a probe batch carrying the same doc_id twice yields one verdict, jaccard ≤ 1") {
    // at-least-once sources can replay a record into one micro-batch;
    // under the single-label plain-count verify a duplicated probe row
    // would double the intersection and push jaccard past 1
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_dup_").toString
    Dedup.buildNearDupIndex(Seq((0L, base, "s1")).toDF("doc_id", "text", "source"), dir)
    val replayed = Seq((10L, base, "d1"), (10L, base, "d1"))
      .toDF("doc_id", "text", "source")
    val hits = Dedup.nearDupsAgainstIndex(replayed, dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(hits.toSeq === Seq((0L, 10L, 1.0)),
      s"one verdict per doc, exact jaccard: ${hits.toSeq}")
  }

  test("an index BUILT or REGISTERED from replayed doc_ids stays unique per label") {
    // the write-side mirror of the probe test above: the single-label
    // plain-count verify also assumes INDEX rows are unique per
    // (doc_id, sh) — a record replayed into the build (or one registered
    // batch) must not land twice under a single label
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_wdup_").toString
    Dedup.buildNearDupIndex(
      Seq((0L, base, "s1"), (0L, base, "s1")).toDF("doc_id", "text", "source"), dir)
    val hits = Dedup.nearDupsAgainstIndex(
        Seq((10L, base, "d1")).toDF("doc_id", "text", "source"), dir, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(hits.toSeq === Seq((0L, 10L, 1.0)),
      s"duplicated build input must not inflate jaccard: ${hits.toSeq}")
    // register side: replay into one batch, then probe that single batch
    // as the whole surviving inventory (excludeBatch leaves only day1)
    Dedup.registerInNearDupIndex(
      Seq((20L, base, "d2"), (20L, base, "d2")).toDF("doc_id", "text", "source"),
      dir, "day1")
    val shingleRows = spark.read.parquet(s"$dir/shingles")
      .filter(col("_batch") === "day1").groupBy("doc_id", "sh").count()
      .filter(col("count") > 1).count()
    assert(shingleRows === 0L, "replayed registration must write unique rows per label")
  }

  test("winnowFingerprints: the w+k-1 guarantee holds; density and edge docs behave") {
    // k=3, w=4: any shared run of >= 6 tokens must share >= 1 fingerprint
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared seven eight nine ten"),
      (2L, s"red blue green yellow $shared purple orange")).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .select("doc_id", "pos", "fp").as[(Long, Long, Long)].collect()
    val s1 = fp.filter(_._1 == 1L).map(_._3).toSet
    val s2 = fp.filter(_._1 == 2L).map(_._3).toSet
    assert((s1 intersect s2).nonEmpty,
      "a shared w+k-1 token run must share a fingerprint (the winnowing guarantee)")
    // one selection per window at most; positions within gram range
    val d1 = fp.filter(_._1 == 1L)
    val m1 = s"one two three $shared seven eight nine ten".split(" ").length - 3 + 1
    assert(d1.length <= m1 - 4 + 1 && d1.forall(r => r._2 >= 1 && r._2 <= m1))
    // docs shorter than k emit nothing; k-token docs emit their one gram
    val tiny = Dedup.winnowFingerprints(
      Seq((3L, "a b"), (4L, "a b c")).toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id", "pos").as[(Long, Long)].collect()
    assert(tiny.toSeq === Seq((4L, 1L)))
    // deterministic under partitioning
    val again = Dedup.winnowFingerprints(docs.repartition(5), "text", "doc_id").collect()
    assert(Dedup.winnowFingerprints(docs, "text", "doc_id").collect().toSeq === again.toSeq)
  }

  test("editDistanceNearDups: exact lev on a planted edit; unrelated docs never pair") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val edocs = Seq(
      (1L, a),
      (2L, a),                                // exact dup: lev 0, sim 1
      (3L, a.replace("delta", "dxxta")),      // 2 substituted chars: lev 2
      (4L, "totally unrelated words that have nothing in common with it all"))
      .toDF("doc_id", "text")
    val rows = Dedup.editDistanceNearDups(edocs, gramSize = 4, maxDf = 8, minSim = 0.8)
      .select("doc_a", "doc_b", "lev", "edit_sim")
      .as[(Long, Long, Long, Double)].collect()
    val byPair = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(byPair((1L, 2L)) === ((0L, 1.0)), "exact pair at distance 0")
    assert(byPair((1L, 3L))._1 === 2L, "one 2-char substitution is lev 2")
    assert(byPair((2L, 3L))._1 === 2L)
    assert(byPair((1L, 3L))._2 === 1.0 - 2.0 / a.length)
    assert(!rows.exists(r => r._1 == 4L || r._2 == 4L), "unrelated doc must not pair")
  }

  test("editDistanceNearDups: maxDf bounds blocking fanout (the documented recall trade)") {
    val t = "one two three four five six seven eight nine ten"
    val many = (1L to 10L).map(i => (i, t)).toDF("doc_id", "text")
    // every gram's df is 10 > maxDf=8: blocked, no candidates at all
    assert(Dedup.editDistanceNearDups(many, gramSize = 4, maxDf = 8).count() === 0L)
    // raising maxDf to the corpus size restores every pair
    assert(Dedup.editDistanceNearDups(many, gramSize = 4, maxDf = 10).count() === 45L)
  }

  test("exciseRepeatedSpans: cross-doc span excised from both; islands merge overlaps") {
    // a 10-token shared run = three duplicated 8-gram starts merging into ONE island
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val e = Seq(
      (1L, s"a1 a2 $shared a3 a4"),
      (2L, s"b1 $shared b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"))
      .toDF("doc_id", "text")
    val out = Dedup.exciseRepeatedSpans(e, spanTokens = 8)
      .select("doc_id", "n_tokens", "n_dup_starts", "n_spans_removed",
        "n_removed_tokens", "clean_text")
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 14L, 3L, 1L, 10L, "a1 a2 a3 a4")))
    assert(out(2L) === ((2L, 14L, 3L, 1L, 10L, "b1 b2 b3 b4")))
    assert(out(3L) === ((3L, 9L, 0L, 0L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("exciseRepeatedSpans: within-doc repeats duplicate too; short docs pass through") {
    val span = "r1 r2 r3 r4 r5 r6 r7 r8"
    val e = Seq(
      (1L, s"$span x1 x2 x3 x4 x5 x6 x7 x8 $span"),  // same 8-gram twice in one doc
      (2L, "tiny doc under eight tokens"))
      .toDF("doc_id", "text")
    val out = Dedup.exciseRepeatedSpans(e, spanTokens = 8)
      .select("doc_id", "n_spans_removed", "n_removed_tokens", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 16L, "x1 x2 x3 x4 x5 x6 x7 x8")),
      "both within-doc occurrences excised as two islands")
    assert(out(2L) === ((2L, 0L, 0L, "tiny doc under eight tokens")),
      "docs shorter than the span emit zero removals and original text")
    // full excision: two identical 8-token docs lose everything, empty text kept
    val full = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val fo = Dedup.exciseRepeatedSpans(full, spanTokens = 8)
      .select("doc_id", "n_removed_tokens", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(fo(1L) === ((1L, 8L, "")) && fo(2L) === ((2L, 8L, "")))
  }

  test("bloomContamination: no false negatives ever; FPs appear under a tiny filter and are counted") {
    // train contains the planted passage; eval doc 10 repeats it verbatim
    // (must be caught), eval doc 11 is clean
    val passage = (1 to 13).map(i => s"p$i").mkString(" ")
    val train = Seq(
      (1L, s"$passage and some trailing train words here too"),
      (2L, (1 to 20).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"intro words $passage outro"),
      (11L, (1 to 20).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomContamination(train, eval, n = 13)
      .select("doc_id", "n_bloom_hits", "n_exact_hits", "n_false_positives", "contaminated")
      .as[(Long, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._5 === true, "the planted passage must be caught")
    assert(out(10L)._3 >= 1L, "exact verify sees the planted gram")
    // the Bloom guarantee, per doc: bloom hits ⊇ exact hits
    for ((_, (_, bh, eh, fp, _)) <- out) {
      assert(bh >= eh, "a Bloom filter can never false-negative")
      assert(fp === bh - eh)
    }
    assert(out(11L)._2 === 0L && out(11L)._5 === false,
      "clean doc stays clean under the wide filter")
    // a deliberately tiny filter (64 bits vs dozens of gram positions)
    // false-positives on the CLEAN doc — collisions the wide filter
    // never showed — while exact counts are immune to filter width
    val tiny = Dedup.bloomContamination(train, eval, n = 13, numBits = 64)
      .select("doc_id", "n_grams", "n_bloom_hits", "n_exact_hits")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(tiny(11L)._3 > 0L,
      s"the 64-bit filter must false-positive on the clean doc, got ${tiny(11L)}")
    assert(tiny(11L)._4 === 0L, "exact counts are immune to filter width")
  }

  test("BloomBits matches a single-node reference and is merge-order independent") {
    import graft.functions.BloomBits
    val items = (1 to 100).map(i => s"item $i with spaces")
    // reference bitmask
    val ref = Array.fill(1024 / 64)(0L)
    for (it <- items; h <- 0 until 2) {
      val pos = BloomBits.position(it, h, 1024)
      ref(pos >>> 6) |= (1L << (pos & 63))
    }
    val whole = new BloomBits(2, 1024)
    items.foreach(whole.add)
    assert(whole.words.toSeq === ref.toSeq)
    // arbitrary split + merge gives the identical mask (OR algebra)
    for (seed <- Seq(1, 9)) {
      val shuffled = new scala.util.Random(seed).shuffle(items)
      val parts = shuffled.grouped(17).map { chunk =>
        val b = new BloomBits(2, 1024); chunk.foreach(b.add); b
      }.toSeq
      val merged = new BloomBits(2, 1024)
      parts.foreach(merged.mergeFrom)
      assert(merged.words.toSeq === ref.toSeq)
    }
  }

  test("exciseRepeatedSpans: the gaps-and-islands merge is L-independent (3..50)") {
    // The Lee et al. recipe is parameterized by the span length L (the
    // paper's canonical setting is ~50 bytes; t49 fixes L=8 tokens).
    // Sweep L across 3/8/20/50 against a single-node reference of the
    // whole operator — same duplicated-gram marking, covered-position
    // union, island counting, reassembly — on a fixture whose shared
    // passage (60 tokens) is LONGER than every L, so long-span
    // coalescing (many overlapping duplicated L-grams merging into one
    // island) is exercised at each setting, alongside a within-doc
    // repeat and unique filler.
    val shared = (1 to 60).map(i => s"s$i").mkString(" ")
    val rep = (1 to 5).map(i => s"r$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a1 a2 a3 $shared a4 a5"),
      (2L, s"b1 $shared b2 $rep b3 $rep"),
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")))
    def ref(l: Int): Map[Long, (Long, Long, Long, Long, String)] = {
      val toks = corpus.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toVector }
      val counts = scala.collection.mutable.Map.empty[Seq[String], Int].withDefaultValue(0)
      for ((_, tk) <- toks; i <- 0 to tk.length - l) counts(tk.slice(i, i + l)) += 1
      toks.map { case (id, tk) =>
        val dupStarts = (0 to tk.length - l).filter(i => counts(tk.slice(i, i + l)) > 1)
        val covered = dupStarts.flatMap(i => i until i + l).toSet
        val islands = covered.toSeq.sorted
          .foldLeft((0L, -2)) { case ((n, prev), p) =>
            (if (p > prev + 1) n + 1 else n, p)
          }._1
        val clean = tk.indices.filterNot(covered).map(tk).mkString(" ")
        id -> ((tk.length.toLong, dupStarts.size.toLong, islands,
          covered.size.toLong, clean))
      }.toMap
    }
    for (l <- Seq(3, 8, 20, 50)) {
      val out = Dedup.exciseRepeatedSpans(
        corpus.toDF("doc_id", "text"), spanTokens = l)
        .select("doc_id", "n_tokens", "n_dup_starts", "n_spans_removed",
          "n_removed_tokens", "clean_text")
        .as[(Long, Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      assert(out === ref(l), s"L=$l must match the single-node reference")
    }
  }

  test("containmentPairs finds a swallowed doc that Jaccard misses; asymmetry reported; partition-invariant") {
    // doc 1 is contained whole in doc 10 (wrapper = doc1 + padding)
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val pad = "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq(
      (1L, small),
      (10L, small + " " + pad),
      (20L, "totally different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, shingleSize = 3, maxDf = 8,
      minContainment = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(out.length === 1)
    val (a, b, sza, szb, inter, cab, cba, j) = (out(0)._1, out(0)._2, out(0)._3,
      out(0)._4, out(0)._5, out(0)._6, out(0)._7, out(0)._8)
    assert((a, b) === ((1L, 10L)))
    // every shingle of the small doc appears in the wrapper
    assert(inter === sza && cab === 1.0)
    // the asymmetry: containment catches what resemblance misses
    assert(cba < 0.9 && j < 0.8,
      s"jaccard $j must sit below the dedup threshold while containment is 1.0")
    // partitioning invariance
    val again = Dedup.containmentPairs(docs.repartition(5), shingleSize = 3,
      maxDf = 8, minContainment = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(again.toSeq === out.toSeq)
  }

  test("minhashSCurve: identical pair always detects, disjoint pair never; buckets and theo exact") {
    val OFF = 1000L
    val docs = Seq(
      // identical pair: j = 1 -> bucket 9, every band agrees, theo = 1
      (1L, "alpha beta gamma delta epsilon zeta"),
      (1L + OFF, "alpha beta gamma delta epsilon zeta"),
      // disjoint pair: j = 0 -> bucket 0, no band can agree, theo = 0
      (2L, "one two three four five six"),
      (2L + OFF, "seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashSCurve(docs, OFF, shingleSize = 3,
        rowsPerBand = 4, bands = 4)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(9L) === ((9L, 1L, 1L, 1.0, 1.0)),
      "an identical pair shares every band and sits on the curve's ceiling")
    assert(out(0L) === ((0L, 1L, 0L, 0.0, 0.0)),
      "disjoint shingle sets cannot agree on any minimum")
    val again = Dedup.minhashSCurve(docs.repartition(5), OFF, shingleSize = 3,
        rowsPerBand = 4, bands = 4)
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === out)
  }
}
