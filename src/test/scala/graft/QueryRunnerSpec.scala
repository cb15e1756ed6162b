package graft

import graft.util.CacheRegistry

/** The runner's contract: one selection rule, and a run that always
  * releases its query's state and records only its own phases. */
class QueryRunnerSpec extends SparkTestBase {

  test("a failed run still releases its scratch dirs and frames; the next record has no phases") {
    val s = spark.newSession()
    // t15 builds its near-dup index in a scratch dir (phase index_build)
    // and probes it through tracked frames
    var owned = (Seq.empty[String], 0)
    val failed = QueryRunner.run(s, "t15_dedup_incremental", sf0001) { _ =>
      owned = (CacheRegistry.scratchDirs(s), CacheRegistry.frames(s).size)
      throw new IllegalStateException("sink failed")
    }
    assert(failed.error.map(_.getMessage) === Some("sink failed"))
    assert(failed.phases.keySet === Set("index_build"))
    assert(owned._1.nonEmpty && owned._2 > 0, owned)
    assert(!owned._1.exists(d => new java.io.File(d).exists()), s"scratch dirs left: $owned")
    assert(CacheRegistry.scratchDirs(s).isEmpty && CacheRegistry.frames(s).isEmpty)
    val next = QueryRunner.run(s, "q01_pricing_summary", sf0001)(QueryRunner.noop)
    assert(next.ok && next.phases.isEmpty && next.counts.isEmpty, next)
    CacheRegistry.release(s)
  }

  test("SPARK_GRAFT_ONLY: names are trimmed, unset selects every entry, an unknown name fails") {
    assert(QueryRunner.selected(Some(" t09_dedup_jaccard_blocked , q01_pricing_summary,,")) ===
      Seq("q01_pricing_summary", "t09_dedup_jaccard_blocked"))
    assert(QueryRunner.selected(None) === SparkEntry.queries.keys.toSeq.sorted)
    val typo = intercept[IllegalArgumentException](QueryRunner.selected(Some("q01_pricing_sumary")))
    assert(typo.getMessage.contains("q01_pricing_sumary"))
    intercept[IllegalArgumentException](QueryRunner.selected(Some(" , ")))
  }
}
