package graft

/** Best (minimum) driver-observed per-query seconds across the round
  * 2–12 bench artifacts (`BENCH_r02..r12.json`, all sf0.1, cold
  * local[32], keyed by short query id), min'd with the builder's
  * recorded final-tree cold runs: the r12 SURVEY §8.-6 slope-table
  * sf0.1 readings for the 16 queries whose only driver reading fell in
  * a sustained-pressure window, and the round-13 final-tree full-suite
  * pair (which also seeds the six r13 queries m13/p16/p17/t66/t67/q45
  * with their first reference minima), and the round-14 final-tree
  * full-suite pairs (seeding the twelve r14 queries q47/t69/t70/v20/
  * v21 from the first sitting, p18/q48/q49/q50/t71/t72/v22 from the
  * second, and RE-seeding t67 to 5.78 — its verify was redesigned onto
  * per-doc hash arrays in r14, so pre-redesign minima describe a plan
  * that no longer exists). A min-of-history is an
  * ACHIEVABLE time on this hardware by construction; a suite min that
  * reads more than 2x it flags the query for end-of-suite re-pairing
  * and GC/heap attribution (see Bench). Every query in the r14 suite
  * has an entry — the repair pass covers the full suite. Regenerated
  * per-round from the artifacts, not hand-edited.
  *
  * Two deliberate exclusions. q35's pre-r13 minimum of 1.21 s: that
  * reading describes the localCheckpoint form of triangleCounts, which
  * the r13 300x sweep killed (2·|E| rows pinned unevictably in memory
  * OOM'd the wedge join one decade up). The surviving scale-safe form
  * reads ~2.4-2.9 s steady-state at sf0.1 across every post-r13
  * session (driver repair 2.46 eager / judge repair 1.98 lazy / r15
  * isolated floor 2.37), and an r15 A/B showed the storage level is
  * NOT the gap — MEMORY_AND_DISK (evictable) ties DISK_ONLY rep for
  * rep (2.5-3.6 vs 2.7-3.8 steady, interleaved fresh JVMs), so the
  * ~2x over 1.21 is the cost of the extra oriented-materialization
  * pass plus the persist round trip that 300x survival requires, not
  * scratch churn. Re-seeded to 1.98 (the best reading measured on the
  * PLAN THAT EXISTS); the old minimum would perma-flag a dead plan's
  * number, the exact t24 shape.
  *
  * r17 re-seeds under the same discipline, different mechanism — the
  * SUB-SECOND COLD QUANTUM: v03 0.35→0.68, t10 0.21→0.39,
  * t11 0.26→0.46. The plans are unchanged since their floors were
  * seeded, but the old minima date from r2–r12 sittings under the
  * old protocol; the r16 quiet-window study (11 fresh JVMs,
  * interleaved negative controls) read v03 2.26× / t10 2.14× those
  * floors WHILE the controls rode at 1.2–1.8×, isolating a fixed
  * ~0.3–0.5 s per-query single-sitting cost (codegen/JIT of that
  * query's operators plus host-noise quanta of the same size) that
  * dominates exactly and only the sub-second queries and that the
  * old minima — min-of-many-sittings — amortized away. r17 made the
  * amortization part of the PROTOCOL: Bench's warm pass gives
  * sub-second queries reading >1.7× up to 4 extra back-to-back reps
  * and reports the min (a real plan regression reproduces in all of
  * them). The entries here are the r17 full-suite warm-protocol
  * sitting's readings — honest minima under the protocol that now
  * measures them; a flag on these queries again means a PLAN change,
  * not protocol archaeology.
  *
  * A third exclusion, same discipline (r17): q23's pre-r17 minimum of
  * 0.78 s described the rows-only plan — HLL at Spark's default
  * rsd 0.05 beside countDistinct in one agg. r17 gave q23 an ORACLE
  * (|estimate − exact| ≤ 0.05·exact, which forces rsd 0.01 so the gate
  * sits 5 rsd out) and replaced the plan with the distinct-first form
  * (the combined agg's countDistinct EXPAND would carry a ~16 KB HLL
  * buffer per (group, key) hash-map entry at rsd 0.01 — measured
  * 32–57 s at sf0.1; distinct-first reads 2.5–3.3 s and keeps the wide
  * sketch state at one buffer per GROUP, the shape that survives
  * 100 TB). Re-seeded to 2.26, the best measured reading of the plan
  * that exists (the r17 full-suite sitting).
  *
  * r19 regeneration: 24 entries moved DOWN by plain min-of-history
  * (the r19 final-tree full-suite sitting, `bench_full.json`, beat
  * them), the largest with their mechanisms: t65 3.85→0.90 and
  * t63 1.55→1.21 (the r18 codegen'd graft_ngrams/graft_bigram_pairs
  * scan — r18's floors were never re-measured in a quiet window),
  * p05 8.05→6.87 / p05b 1.61→1.16 (r18 one-pass indexer fits +
  * localCheckpoint'd feature frame), p07 3.39→2.63 / p07b 5.38→5.18
  * (r18 parallel gold fan-out), q23 2.26→2.13 / q27 1.74→1.40 (r18
  * one-pass/one-buffer rewrites), t13 2.09→1.75 / t24 2.53→2.37 (r19
  * partition-once dupClusters edges), t07 1.90→1.09 / t09 1.12→0.94 /
  * t73 1.25→0.93 / t77 1.36→1.04 (r17 shingle codegen floors, first
  * quiet-window sitting since). And ONE entry moved UP under the
  * dead-plan discipline: q45 2.49→4.54 — the r13 seed described the
  * row_number-window label-propagation form, which the r16 100× sweep
  * killed (the window sort ran out of execution memory a decade up);
  * the surviving max-struct + hash-join plan reads 4.5–4.9 s in every
  * post-r16 sitting (r17 4.74, r18 repair 4.91, r19 repair 4.54 — the
  * seed), and the r19 interleaved A/B pinned the broadcast-gated
  * variant at parity, so 2.49 was flagging a plan that no longer
  * exists, the exact q35/t24 shape.
  *
  * The other exclusion: t24's BENCH_r06 reading of 1.57 s. The
  * r13 repair telemetry confirmed t24's ~3.5 s as genuine (repair ≈
  * suite min across rounds), and the cause is the reference itself:
  * 1.57 predates the per-query cache release (landed round 7,
  * commit 45884eb), so that t24 rode t13's still-cached minhash/shingle
  * frames — t24 REUSES t13's entire pipeline (minhashNearDups →
  * dupClusters) before its own signals join + keep-one window, and its
  * standalone cost is t13's (~3.0 s) plus ~0.5 s, exactly the 3.5 s
  * every post-r7 round measures. The entry is re-seeded to the
  * post-release-era minimum (r13's 3.52) so the repair pass measures
  * drift against an achievable STANDALONE time, not a cache-sharing
  * artifact of the old bench harness.
  */
object BenchReference {
  /** short query id -> min driver/builder seconds at sf0.1 (r2-r13).
    *
    * r19 fourth-sitting regeneration (plain min-of-history, downward
    * only): 34 entries moved down from the two final-tree full-suite
    * sittings taken after the lazy-localCheckpoint commit (638cae9;
    * bench_full.json = 215.71 s, the round's best total and quietest
    * window, and plans/r19/bench_r19_third_sitting.json = 249.18 s).
    * Named mechanisms where one exists: q45 4.54->3.94 and the loop
    * family floors (t13/t24/t67/q23/q27/t63/t65 etc.) reflect this
    * round's lazy-checkpoint/one-pass/broadcast work measured in a
    * quiet window for the first time; the remainder (q22/t69/t70/t73,
    * the sub-second tail) are pure window minima on unchanged plans. */
  val sf01DriverMin: Map[String, Double] = Map(
    "m01" -> 0.55, "m02" -> 0.43, "m03" -> 0.43, "m04" -> 0.4,
    "m05" -> 0.37, "m06" -> 0.73, "m07" -> 0.68, "m08" -> 0.82,
    "m09" -> 0.42, "m10" -> 0.34, "m11" -> 0.35, "m12" -> 0.36,
    "m13" -> 0.76, "p01" -> 0.98, "p02" -> 0.44, "p03" -> 0.13,
    "p04" -> 0.29, "p05" -> 6.6, "p06" -> 1.45, "p07" -> 2.44,
    "p08" -> 1.05, "p09" -> 1.37, "p10" -> 1.04, "p11" -> 1.11,
    // p15 re-seeded in r19 (the r17 #2 adjudication, P15AB readings in
    // plans/r19/p15ab_readings.txt and OPTIMIZATION_r19.md): 0.73 was
    // a BENCH_r12 artifact of the
    // pre-bucketing whole-table copy-on-write plan; the bucketed CDC
    // upsert's interleaved A/B floor is ~1.4 s steady with the best
    // post-r12 suite reading 1.05 — the plan that exists.
    "p12" -> 1.31, "p13" -> 1.08, "p14" -> 1.49, "p15" -> 1.05,
    "p16" -> 3.01, "p17" -> 3.09, "q01" -> 0.68, "q02" -> 0.34,
    "q03" -> 0.55, "q04" -> 0.31, "q05" -> 0.22, "q06" -> 0.3,
    "q07" -> 0.64, "q08" -> 0.42, "q09" -> 0.41, "q10" -> 0.33,
    "q11" -> 0.36, "q12" -> 0.32, "q13" -> 0.25, "q14" -> 0.4,
    "q15" -> 0.4, "q16" -> 0.37, "q17" -> 0.1, "q18" -> 0.31,
    "q19" -> 0.28, "q20" -> 0.67, "q21" -> 0.16, "q22" -> 0.81,
    "q23" -> 1.68, "q24" -> 0.46, "q25" -> 0.4, "q26" -> 0.43,
    "q27" -> 1.04, "q28" -> 0.52, "q29" -> 0.32, "q30" -> 0.64,
    "q31" -> 0.44, "q32" -> 0.44, "q33" -> 0.5, "q34" -> 5.02,
    "q35" -> 1.98, "q36" -> 0.67, "q37" -> 0.38, "q38" -> 0.69,
    "q39" -> 1.94, "q41" -> 2.16, "q42" -> 0.87, "q43" -> 0.32,
    "q44" -> 1.04, "q45" -> 3.94, "q46" -> 0.77, "t01" -> 0.41,
    "t02" -> 0.45, "t03" -> 0.34, "t04" -> 0.36, "t05" -> 0.35,
    "t06" -> 0.37, "t07" -> 1.06, "t08" -> 0.91, "t09" -> 0.94,
    "t10" -> 0.39, "t11" -> 0.45, "t12" -> 0.61, "t13" -> 1.66,
    "t14" -> 0.29, "t15" -> 1.54, "t16" -> 1.49, "t17" -> 0.63,
    "t18" -> 0.45, "t19" -> 0.29, "t20" -> 0.27, "t21" -> 0.37,
    "t22" -> 0.39, "t23" -> 0.71, "t24" -> 2.36, "t25" -> 0.48,
    "t26" -> 0.65, "t27" -> 0.18, "t28" -> 0.65, "t29" -> 2.08,
    "t30" -> 1.43, "t31" -> 0.42, "t32" -> 1.03, "t33" -> 0.38,
    "t34" -> 5.38, "t35" -> 0.85, "t36" -> 0.5, "t37" -> 0.35,
    "t38" -> 0.39, "t39" -> 0.24, "t40" -> 0.51, "t41" -> 0.22,
    "t42" -> 0.68, "t43" -> 0.83, "t44" -> 1.25, "t45" -> 1.28,
    "t46" -> 0.76, "t47" -> 0.76, "t48" -> 0.97, "t49" -> 0.99,
    "t50" -> 0.66, "t51" -> 0.59, "t52" -> 0.36, "t53" -> 2.56,
    "t54" -> 0.46, "t55" -> 0.41, "t56" -> 0.2, "t57" -> 1.71,
    "t58" -> 1.61, "t59" -> 0.5, "t60" -> 0.92, "t61" -> 0.45,
    "t62" -> 1.04, "t63" -> 1.07, "t64" -> 1.51, "t65" -> 0.81,
    "t66" -> 0.31, "t67" -> 2.51, "t68" -> 0.42, "t69" -> 0.88,
    "t70" -> 0.38, "q47" -> 0.57, "v20" -> 0.34, "v21" -> 0.5,
    // r14 second sitting (builder final-tree full-suite min-of-2).
    // p18/p19/p20 re-seeded in r15: their state-store shard count now
    // follows state volume instead of core count (runToMemory
    // statePartitions — the r14 8.0 s p19 reading was 32 shards × 4
    // stores × ~300 ms fixed commit cost over 40k state rows, and its
    // two-batch input is now staged once per session instead of
    // per-invocation), so the pre-resize minima describe a dead plan
    "p18" -> 2.10, "p19" -> 2.89, "q48" -> 0.49, "q49" -> 0.57, "q50" -> 0.88,
    // r15 first sitting (isolated min-of-2 on the final tree)
    "p20" -> 2.82, "q51" -> 0.93, "q52" -> 0.66, "q53" -> 0.55,
    "p21" -> 1.39,
    // r16 first seeds (final-tree full-suite min-of-2, the r14/r15
    // discipline): p05b rides p05's silverFlat cache in suite order
    // (isolated cold runs pay the scan, ~13 s — not the in-suite
    // shape); p07b is the COMPOSED pipeline (bronze JSON write →
    // silver → 7 gold VersionedTables), so its floor is write-bound
    "p05b" -> 1.16, "p07b" -> 5.03, "t74" -> 0.41, "t75" -> 1.86,
    "q54" -> 0.66, "p22" -> 1.44, "t76" -> 1.14,
    // r17 first seeds (full-suite warm-protocol sitting, zero flags:
    // 220.15 s / 190 queries, median ratio 1.13); p07b RE-seeded to the
    // same sitting's 5.38 — the gold fan-out persist removal
    // (gold fan-out A/B, SURVEY.md) made the old write-bound floor beatable
    "t77" -> 1.04, "t78" -> 0.37,
    // r17 shingle-expression re-seeds (codegen'd graft_shingles
    // replaced the interpreted four-HOF construction chain — the
    // dominant scan cost of the MinHash family): t07 2.83->1.90,
    // t09 2.54->1.12, t13 2.35->2.09, t24 3.52->2.53, t67 5.78->3.25,
    // t77 3.35->1.36, all measured same-day on the final tree
    "t71" -> 0.96, "t72" -> 1.09, "t73" -> 0.54, "v22" -> 2.04,
    "v01" -> 0.27,
    "v02" -> 0.73, "v03" -> 0.6, "v04" -> 0.97, "v05" -> 1.31,
    "v06" -> 1.52, "v07" -> 0.28, "v08" -> 0.76, "v09" -> 0.59,
    "v10" -> 0.9, "v11" -> 1.01, "v12" -> 0.48, "v13" -> 0.55,
    "v14" -> 0.52, "v15" -> 0.9, "v16" -> 0.95, "v17" -> 0.52,
    "v18" -> 1.96, "v19" -> 0.37
  )
}
