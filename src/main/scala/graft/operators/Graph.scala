package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge lists — the PageRank sibling of
  * the connected-components family ([[Dedup.dupClusters]]).
  */
object Graph {

  /** PageRank (Brin & Page 1998) over a directed edge list, a FIXED
    * number of power iterations from the uniform start:
    *
    *   `pr₀(v) = 1/N`;
    *   `prₜ₊₁(v) = (1−d)/N + d · Σ_{u→v} prₜ(u) / outdeg(u)`.
    *
    * Determinism is the design constraint (the engine's oracle replays
    * every iteration): per-edge contributions are plain double
    * arithmetic, but the per-node Σ crosses a shuffle, so it takes a
    * decimal detour — at DECIMAL(38,18), NOT the Num.dsum 6-dp grid:
    * contributions are ~1/(N·outdeg), already below 10⁻⁶ on a
    * 10⁴-node graph, so a 6-dp quantization would zero most of the
    * mass (measured: 35% of probability evaporated at 16k nodes). The
    * 18-dp grid sits well under double precision for any realistic
    * rank mass while staying exact and accumulation-order independent.
    * Fixed iteration count rather than convergence testing keeps the
    * computation a pure function of the graph.
    *
    * Scale shape: one shuffle per iteration — ranks join the
    * outdeg-carrying edge table on `src` (rank table node-sized and
    * broadcast/hash-built, edge table edge-sized, pre-partitioned and
    * never re-exchanged; at web scale this is the canonical
    * join+aggregate PageRank, AQE-skew-splittable), the Σ aggregates
    * partial+final on `dst`, and a left join against the node table
    * restores sink-only nodes to the teleport base. Each generation is
    * localCheckpoint'd (the dupClusters lineage lesson).
    * Callers with dangling nodes (no out-edges) should symmetrize or
    * self-loop first; mass is otherwise lost, as in the classic
    * formulation.
    *
    * Input: edges (src, dst) — duplicates are dropped. Output:
    * (node, pagerank), every node appearing as a src or dst, node
    * order. */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    // Edges are hash-partitioned by src ONCE, up front: localCheckpoint
    // preserves the physical partitioning in its LogicalRDD, so every
    // iteration's rank⋈edges join moves only the node-sized rank table
    // (one-sided exchange) instead of re-shuffling the edge-sized side
    // five times — at web scale the edge table is the 100× term.
    // lazy checkpoints throughout (the Bpe.learnMerges discipline): the
    // plan truncates immediately either way; the blocks materialize
    // inside the action that already needs them — nodes.count() here,
    // each round's broadcast/hash build below — instead of a separate
    // materialization job per generation.
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    // outdeg folded INTO the edge table once (r19): the per-round
    // rank/outdeg division rides the single rank⋈edges join instead of
    // paying a second node-sized join every iteration (the division is
    // the same double arithmetic per edge row, so every contribution —
    // and therefore every decimal-detoured Σ — is bit-identical). Both
    // the aggregation and this join are exchange-free over the
    // src-partitioned edges.
    val ew = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint(eager = false)
    // Node-sized join sides (guide §3.1): broadcast when the node table
    // provably fits every executor (≤2M rows ≈ tens of MB) — the
    // edge-sized side then never exchanges OR sorts; beyond that,
    // SHUFFLE_HASH still streams the pre-partitioned edges unsorted
    // (a web-scale node table would blow the 8 GB broadcast cap, so the
    // gate is on measured node count, not a config constant).
    val nodeSide: DataFrame => DataFrame =
      if (n <= 2000000L) broadcast else (df: DataFrame) => df.hint("SHUFFLE_HASH")
    val base = (1.0 - damping) / n
    var pr = nodes.withColumn("pagerank", lit(1.0 / n))
      .localCheckpoint(eager = false)
    var i = 0
    while (i < iterations) {
      pr = pageRankRound(ew, nodes, pr, nodeSide, base, damping)
        .localCheckpoint(eager = false)
      i += 1
    }
    pr.orderBy(col("node"))
  }

  /** One pageRank power iteration — extracted so the plan-evidence
    * tooling can explain a single round (the loop checkpoints each
    * generation eagerly, so a query-level dump only shows the tail). */
  private[graft] def pageRankRound(ew: DataFrame, nodes: DataFrame,
      pr: DataFrame, nodeSide: DataFrame => DataFrame,
      base: Double, damping: Double): DataFrame = {
    val contrib = ew
      .join(nodeSide(pr.withColumnRenamed("node", "src")), Seq("src"))
      .select(col("dst"), (col("pagerank") / col("outdeg")).as("c"))
      .groupBy(col("dst"))
      // 18-dp decimal detour: order-independent like Num.dsum, but
      // fine enough that ~1/(N·outdeg) contributions survive (see
      // the class doc — 6 dp zeroes real graphs' mass)
      .agg(sum(col("c").cast(DecimalType(38, 18))).cast("double").as("mass"))
    nodes
      .join(nodeSide(contrib.withColumnRenamed("dst", "node")), Seq("node"), "left")
      .select(col("node"),
        (lit(base) + lit(damping) * coalesce(col("mass"), lit(0.0))).as("pagerank"))
  }

  /** Per-node triangle counts by degree orientation — Schank & Wagner's
    * forward algorithm ("Finding, Counting and Listing all Triangles in
    * Large Graphs", WEA 2005), in its join-shaped distributed form
    * (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW 2011): orient every undirected edge from its
    * lower-(degree, id) endpoint to its higher one, enumerate wedges
    * (v, w) around each source's out-neighborhood, and close them
    * against the oriented edge set.
    *
    * Why orientation is the whole algorithm: a naive wedge count pays
    * Σ deg(u)² — the "last reducer" dies on the first hub. Ordering by
    * (degree, id) caps every out-degree at O(√m), so the wedge set —
    * the only super-linear intermediate — is O(m^1.5) TOTAL and no
    * single key is a hot spot, which is what makes the shape safe at
    * 100 TB. Each triangle {a,b,c} is produced exactly once (its
    * orientation-least vertex is the unique wedge center), so per-node
    * counts are one explode of the triangle triple — no ÷3, no ÷2
    * corrections. Everything is joins + aggregations: deterministic,
    * AQE-skew-splittable, and SQL-replayable.
    *
    * Input: edges (src, dst) in any orientation; self-loops and
    * duplicates (either direction) are dropped. Output: (node,
    * n_triangles) for every node in ≥ 1 triangle, node order. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // DISK_ONLY, not localCheckpoint: both edge-sized frames are
    // re-read by multiple joins below, and pinning 2·|E| rows in
    // memory starves the wedge join's execution memory — the exact
    // q41 failure mode, reproduced here as a real OOM at the 300×
    // scale point before this change. MEMORY_AND_DISK (evictable) was
    // A/B'd in r15 as the adaptive middle ground: it TIES DISK_ONLY
    // rep for rep at sf0.1 (2.5–3.6 vs 2.7–3.8 s steady, interleaved
    // fresh JVMs) — the persist level is not where q35's time goes —
    // so the 300×-proven level is kept
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val deg = canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total (degree, id) order decides direction; dst keeps its rank so
    // wedge pairs order WITHOUT re-joining degrees
    val oriented = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddeg")))
        .otherwise(
          struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddeg")))
        .as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddeg"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // materialize oriented, then release canon: only ONE edge-sized
    // frame stays resident through the wedge phase
    oriented.count()
    canon.unpersist()
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("dw")),
        Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("x"), col("v"), col("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    // oriented is RELEASED through the registry (the session's
    // releaseQuery: the Bench per-query cleanup), not by an
    // eager cut here: the first ADVICE-leak fix localCheckpoint'd the
    // counts inside the query so oriented could unpersist before
    // returning — an eager materialization the caller never asked for,
    // and the only operator that paid one (every other multi-branch
    // operator uses this registry lifecycle). Same-session A/B readings
    // overlap under scratch-volume noise (eager 2.3–3.3 s vs lazy
    // 1.4–2.4 s at sf0.1), so the lazy form is kept on design: the
    // caller's action decides when work happens, and the leak closes at
    // the session boundary.
    graft.util.CacheRegistry.register(oriented)
    tri.select(explode(array(col("x"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("node"))
  }

  /** Synchronous label propagation communities (Raghavan, Albert &
    * Kumara, "Near linear time algorithm to detect community structures
    * in large-scale networks", Phys. Rev. E 76, 2007) — the
    * connectivity-blind sibling of the CC min-label loop
    * (`Dedup.dupClusters` finds components; this finds DENSER-THAN-CUT
    * groups inside them): every node starts as its own label, and each
    * round adopts the most frequent label among its neighbors. The
    * published algorithm breaks frequency ties randomly and runs
    * asynchronously; here both choices are pinned deterministic —
    * synchronous rounds, ties to the SMALLEST label, fixed round count
    * — so the labeling is a pure function of the graph at any
    * partitioning and the whole evolution replays as chained SQL (the
    * q34 discipline; randomized/async LPA could only be rows-gated).
    *
    * Scale shape: per round one labels⋈edges join over the
    * src-partitioned symmetric edge list (the label table is the
    * node-sized side — one-sided exchange, the pageRank layout) + one
    * (node, label) count and an argmax window over the count table
    * (node-sized × distinct neighbor labels, shrinking as labels
    * coalesce). Generations localCheckpoint'd (node-sized).
    *
    * Output: (node, label), one row per node. */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    // DISK_ONLY for the edge-sized side (the q35/q41 lesson — measured
    // here too: localCheckpoint'ing |E| rows starved the per-round
    // (node, label) count aggregation into AGGREGATE_OUT_OF_MEMORY at
    // the 100× point); label generations are node-sized and eager
    val sym = canonSym(edges)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nodes = sym.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = false) // nodes.count() below materializes
    // Node-sized label side (guide §3.1, the pageRank r19 gate):
    // broadcast when the node table provably fits every executor —
    // the edge-sized sym side then pays NO exchange at all and the
    // label adoption is one map-side pass; beyond 2M nodes fall back
    // to SHUFFLE_HASH, which still streams the pre-partitioned sym
    // unsorted (measured at 100×: the five per-round SMJ sorts put the
    // decade slope at ~n·log n and the sorter pages were the memory
    // hot spot; a web-scale node table would blow the broadcast cap).
    val nodeSide: DataFrame => DataFrame =
      if (nodes.count() <= 2000000L) broadcast
      else (df: DataFrame) => df.hint("SHUFFLE_HASH")
    var labels = nodes.withColumn("label", col("node"))
    var i = 0
    while (i < rounds) {
      // intermediate generations checkpoint LAZILY (the Bpe.learnMerges
      // discipline): each materializes inside the next round's
      // broadcast/hash build, which computes every partition anyway —
      // one action per round, not two
      labels = lpRound(sym, labels, nodeSide)
        .localCheckpoint(eager = i == rounds - 1)
      i += 1
    }
    // the final generation is an eager checkpoint (no lineage into sym),
    // so the edge-sized disk cache can be released instead of leaking
    // one dead frame per invocation in a long session
    sym.unpersist()
    labels.orderBy(col("node"))
  }

  /** One label-propagation round — extracted for the plan-evidence
    * tooling (the loop checkpoints each generation eagerly). Argmax by
    * (count DESC, label ASC) as a plain MAX over struct(c, -label) —
    * both aggregation levels partial-aggregate map-side and nothing
    * sorts, where a row_number window would range-sort the edge-sized
    * count table every round (measured: the window sort ran q45's 100×
    * point out of execution memory). */
  private[graft] def lpRound(sym: DataFrame, labels: DataFrame,
      nodeSide: DataFrame => DataFrame): DataFrame =
    sym
      .join(nodeSide(labels.select(col("node").as("src"), col("label"))),
        Seq("src"))
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("node"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))

  /** k-core of an undirected graph (Seidman, "Network structure and
    * minimum degree", Social Networks 1983): the maximal subgraph in
    * which every node has degree ≥ k, computed by synchronous peeling —
    * each round drops EVERY node whose current degree is < k at once
    * (the round-parallel form of Batagelj & Zaveršnik's sequential
    * peel), so the result is the unique fixpoint and a pure function of
    * the graph at any partitioning, which is what lets the oracle
    * replay the whole peel as a recursive CTE.
    *
    * Scale shape: per round, one degree aggregation (partial map-side
    * over the src-partitioned symmetric edge list, so it's shuffle-free)
    * and two node-sized semi joins that drop edges touching a peeled
    * node; edges only ever shrink, and each generation is
    * localCheckpoint'd (the dupClusters lineage lesson). Round count is
    * the graph's peel DEPTH — ≤ its degeneracy ordering length, in
    * practice a handful of rounds on heavy-tailed graphs (a path graph's
    * O(n) worst case is the same degenerate shape dupClusters documents
    * for chain components). The convergence test rides the SAME degree
    * aggregate used for the filter — one action per round, no extra
    * scan.
    *
    * Input: edges (src, dst) in any orientation; self-loops and
    * duplicates (either direction) are dropped. Output: (node,
    * core_deg) for every surviving node, core_deg its degree WITHIN the
    * core, node order; empty when the whole graph peels away. */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // lazy checkpoints (the Bpe.learnMerges discipline): each round's
    // fixpoint head() computes every partition of degs — and, chained,
    // of the current sym — so the blocks materialize inside that one
    // action instead of two extra checkpoint jobs per round
    var sym = canonSym(edges).localCheckpoint(eager = false)
    var stable = false
    while (!stable) {
      val degs = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(eager = false)
      // coalesce: sum over the empty frame is NULL, and an emptied graph
      // must read cur == kept == 0 (fixpoint), not throw
      val row = degs.agg(count(lit(1)).as("cur"),
        coalesce(sum(when(col("deg") >= k, 1L).otherwise(0L)), lit(0L))
          .as("kept")).head()
      if (row.getLong(0) == row.getLong(1)) stable = true // fixpoint (incl. empty)
      else {
        val keep = degs.filter(col("deg") >= k).select(col("src"))
        // `kept` (row column 1) is exactly |keep| — when it fits every
        // executor, broadcast BOTH semi joins (guide §3.1): the
        // edge-sized sym then pays zero exchanges this round and KEEPS
        // its src partitioning, so the trailing repartition is dropped
        // too (three exchanges → zero). The fallback path (web-scale
        // surviving core) keeps the shuffle semi joins + repartition.
        if (row.getLong(1) <= 2000000L)
          sym = sym
            .join(broadcast(keep), Seq("src"), "left_semi")
            .join(broadcast(keep.withColumnRenamed("src", "dst")), Seq("dst"), "left_semi")
            .localCheckpoint(eager = false)
        else
          sym = sym
            .join(keep, Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
            .repartition(col("src")).localCheckpoint(eager = false)
      }
    }
    sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  /** Multi-source BFS hop distances (unweighted single/multi-source
    * shortest paths), the level-synchronous frontier expansion every
    * distributed graph engine ships as SSSP's unweighted case (Pregel,
    * GraphX; Malewicz et al. SIGMOD'10).
    *
    * Each round is ONE equi-join: the current frontier (node-keyed,
    * frontier-sized) joins the symmetrized edge list on `src`, and the
    * discovered `dst`s anti-join the visited set — never a pair set
    * larger than (frontier out-degree sum). Rounds are bounded by
    * `maxHops`, so the computation is a pure function of (graph, seeds,
    * maxHops): real-world graphs sit at small effective diameter, and a
    * bounded horizon is also what the serving question ("within k
    * hops") asks. Per-round localCheckpoint cuts the iterative lineage
    * (the dupClusters lesson); both frontier and visited stay
    * node-sized.
    *
    * Input: edges (src, dst) in any orientation (self-loops and
    * duplicate/reverse edges are dropped); seeds — one `node` column.
    * Output: (node, dist) for every node reachable within `maxHops`
    * (seeds at dist 0, unreachable nodes absent), node order. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    bfsCore(symmetrize(edges), seeds, maxHops)

  /** [[bfsHops]] seeded at every node of degree ≥ `minDegree` —
    * "distance to the nearest hub". Degrees come from the SAME
    * materialized symmetric edge list the walk uses, so the corpus-scale
    * canonicalize/symmetrize/shuffle runs once, not twice (on the 100×
    * corpus the duplicated build was a third of the query). */
  def bfsHopsFromHubs(edges: DataFrame, minDegree: Long, maxHops: Int): DataFrame = {
    require(minDegree >= 1, s"minDegree must be positive, got $minDegree")
    val sym = symmetrize(edges)
    val seeds = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= minDegree).select(col("node"))
    bfsCore(sym, seeds, maxHops)
  }

  /** Canonicalized (least/greatest, self-loops and nulls dropped,
    * deduped), symmetrized, src-partitioned edge list — the ONE
    * normalization every undirected iterative operator here starts
    * from, unpersisted so each caller picks its storage: kCore
    * localCheckpoints (its graph shrinks every round), the BFS walk
    * persists DISK_ONLY (see [[symmetrize]]). */
  private def canonSym(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    canon.select(col("a").as("src"), col("b").as("dst"))
      .union(canon.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
  }

  /** [[canonSym]] persisted DISK_ONLY: the walk re-reads it every
    * round, but pinning |E| rows in memory starves the per-round
    * joins' execution memory exactly when the graph is at its largest
    * (the q41 100×-corpus OOM) — local-disk re-reads cost seconds, an
    * executor OOM costs the job. Callers unpersist after the last
    * round. */
  private def symmetrize(edges: DataFrame): DataFrame =
    canonSym(edges).persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)

  private def bfsCore(sym: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    var visited = seeds.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint()
    var frontier = visited.select(col("node"))
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      // anti-join BEFORE distinct: on a dense graph a late frontier
      // touches most edges, and running distinct first hash-shuffles
      // that whole near-|E| join output only for the anti-join to drop
      // ~all of it; dropping visited dsts first leaves the distinct a
      // frontier-sized input (measured 1.7x at the 100x decade).
      // SHUFFLE_HASH on both node-sized sides (frontier, visited — the
      // labelPropagation lesson): sort-merge would re-sort the
      // edge-sized sym and the near-|E| discovered set every round.
      frontier = sym
        .join(frontier.withColumnRenamed("node", "src").hint("SHUFFLE_HASH"),
          Seq("src"))
        .select(col("dst").as("node"))
        .join(visited.hint("SHUFFLE_HASH"), Seq("node"), "left_anti")
        .distinct()
        .localCheckpoint()
      // lazy: materializes inside the next round's anti-join build (the
      // frontier's eager checkpoint job); the union's parents are both
      // checkpointed frames, so the final generation stays computable
      // from blocks after sym is released below
      visited = visited
        .union(frontier.select(col("node"), lit(hop).as("dist")))
        .localCheckpoint(eager = false)
    }
    sym.unpersist(blocking = false) // visited's lineage stops at checkpointed frames — safe
    visited.orderBy(col("node"))
  }
}
