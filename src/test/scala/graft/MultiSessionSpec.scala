package graft

/** Multi-session robustness (the r15–r16 ADVICE theme): the engine's
  * session-scoped machinery — function registration (GraftExpressions
  * registers into the SESSION's function registry), the (session, dir)
  * memoization caches behind silverFlat, and the stream-stage cache's
  * per-session ownership — must let two sessions of one SparkContext
  * run the same queries independently and agree on results. */
class MultiSessionSpec extends SparkTestBase {

  private def rows(name: String, s: org.apache.spark.sql.SparkSession): Seq[String] = {
    val df = graft.queries.Registry.specs.find(_.name == name).get.run(s, sf0001)
    // canonical row text, orderless — the driver-compare convention
    df.collect().map(_.toString).sorted.toSeq
  }

  test("a cloned session runs the same queries to the same results") {
    val s2 = spark.newSession()
    // q06: the flagship join+agg (exercises Corpus reads + dsum);
    // p02: exercises the (session, dir)-keyed silverFlat cache;
    // v01: exercises per-session GraftExpressions registration
    for (q <- Seq("q06_region_customer_stats", "p02_courier_metrics", "v01_cosine_topk")) {
      assert(rows(q, s2) === rows(q, spark), s"$q must agree across sessions")
    }
    // the caches are keyed per session — both entries coexist
    assert(graft.queries.Domain.silverFlat(spark, sf0001) ne
      graft.queries.Domain.silverFlat(s2, sf0001),
      "silverFlat memoization must be per-session, not shared")
  }

  test("stream state-shard override never touches the caller session's conf") {
    // VERDICT r16 #4: runToMemory's shuffle-partition override used to
    // be set→run→restore on the CALLER's session (serialized by a lock),
    // so a batch query planned mid-stream inherited the reduced count.
    // The override now lives on a child session only; this samples the
    // caller conf CONCURRENTLY with the stream run and asserts it never
    // moves, while the child-session read-back proves the override took.
    val key = "spark.sql.shuffle.partitions"
    val default = spark.conf.get(key)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val poller = new Thread(() => while (!stop) {
      samples.add(spark.conf.get(key)); Thread.sleep(1)
    })
    poller.start()
    try {
      val p06 = graft.queries.Registry.specs
        .find(_.name == "p06_stream_hourly_windows").get
      val streamed = p06.run(spark, sf0001)
      // stream ≡ batch on the same session (the p06 oracle semantics)
      val batch = graft.queries.Registry.specs
        .find(_.name == "q24_hourly_event_windows").get.run(spark, sf0001)
      assert(streamed.collect().map(_.toString).sorted.toSeq ===
        batch.collect().map(_.toString).sorted.toSeq)
    } finally { stop = true; poller.join() }
    import scala.jdk.CollectionConverters._
    assert(samples.size > 0, "poller must have sampled during the run")
    assert(samples.asScala.forall(_ == default),
      s"caller-session $key must stay at $default for the whole stream run; " +
        s"saw ${samples.asScala.toSet}")
    assert(spark.conf.get(key) == default)
    // the override itself must still be in force on the child session —
    // read back from the per-query-name observability map (the r18
    // ADVICE fix: a shared slot could hand us another stream's value)
    val readBack = graft.streaming.SilverStream.overrideShufflePartitions(spark)
      .filter { case (n, _) => n.startsWith("p06_stream_") }
    assert(readBack.values.exists(n => n >= 2 && n.toString != default),
      s"child-session override read-back: $readBack")
  }

  test("releasing one session leaves another session's frames and memos intact") {
    import graft.util.CacheRegistry
    val (a, b) = (spark.newSession(), spark.newSession())
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // registry-owned persists only: a Dedup query (tracked frames), the
    // silverFlat memo, and Graph's registered edge frame
    def triangles(s: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)]): Unit = {
      import s.implicits._
      graft.operators.Graph.triangleCounts(edges.toDF("src", "dst")).collect()
    }
    def registryQueries(s: org.apache.spark.sql.SparkSession): Unit = {
      rows("t07_dedup_minhash_lsh", s)
      rows("p02_courier_metrics", s)
      triangles(s, Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    }
    // Spark keys its cache by plan across sessions: B's persists of the
    // same plans share A's entries, while A's own triangle input is A's
    // alone
    val p0 = persisted
    registryQueries(a)
    val p1 = persisted
    val shared = p1 -- p0
    triangles(a, Seq((5L, 6L), (6L, 7L), (5L, 7L)))
    val onlyA = persisted -- p1
    registryQueries(b)
    // p19 stages its two-batch input as a session memo in each session
    for (s <- Seq(a, b)) rows("p19_stream_left_outer_join", s)
    val flatB = graft.queries.Domain.silverFlat(b, sf0001)
    val stagedA = graft.queries.Domain.stagedStreamDirs(a)
    val stagedB = graft.queries.Domain.stagedStreamDirs(b)
    val framesB = CacheRegistry.frames(b)
    assert(shared.nonEmpty && onlyA.nonEmpty && stagedA.nonEmpty && stagedB.nonEmpty &&
      framesB.nonEmpty)

    CacheRegistry.releaseQuery(a)
    CacheRegistry.release(a)
    assert(graft.queries.Domain.silverFlat(b, sf0001) eq flatB,
      "B's silverFlat memo must survive A's release")
    assert(stagedB.forall(d => new java.io.File(d).exists()), "B's staged p19 input")
    assert(stagedA.forall(d => !new java.io.File(d).exists()), "A's staged p19 input")
    assert(framesB.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "B's tracked frames must stay persisted")
    assert(shared.subsetOf(persisted), "entries B shares must stay cached")
    assert((persisted intersect onlyA).isEmpty, s"A's own RDDs: ${persisted intersect onlyA}")
    assert(CacheRegistry.frames(a).isEmpty && CacheRegistry.memos(a).isEmpty)
    CacheRegistry.release(b)
    assert((persisted intersect (shared ++ onlyA)).isEmpty,
      s"RDDs left after both releases: ${persisted intersect (shared ++ onlyA)}")
  }
}
