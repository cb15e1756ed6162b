package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{CacheRegistry, Fixpoint, Jobs}

/** The loop combinator's contract: round bound, stop rule, round count,
  * and the one-action-per-round cost of a lazily cut step. */
class FixpointSpec extends SparkTestBase {

  test("a step that never returns Done runs exactly maxRounds times; maxRounds = 0 runs none") {
    var calls = 0
    val r = Fixpoint.iterate(spark, "fixpoint_spec_rounds", 0, 7) { (s, round) =>
      assert(round === calls)
      calls += 1
      Fixpoint.Next(s + 1)
    }
    assert(calls === 7)
    assert(r === Fixpoint.Result(7, rounds = 7, converged = false))
    val none = Fixpoint.iterate(spark, "fixpoint_spec_rounds", "init", 0) { (_, _) =>
      fail("maxRounds = 0 must run no step")
    }
    assert(none === Fixpoint.Result("init", rounds = 0, converged = false))
  }

  test("Done in round k stops the loop with Done's state, rounds = k + 1, converged") {
    var calls = 0
    val r = Fixpoint.iterate(spark, "fixpoint_spec_rounds", List.empty[Int], 10) { (s, round) =>
      calls += 1
      if (round == 3) Fixpoint.Done(-1 :: s) else Fixpoint.Next(round :: s)
    }
    assert(calls === 4)
    assert(r === Fixpoint.Result(List(-1, 2, 1, 0), rounds = 4, converged = true))
  }

  test("the round count lands under the caller's key") {
    CacheRegistry.releaseQuery(spark)
    Fixpoint.iterate(spark, "fixpoint_spec_a_rounds", 0, 3)((s, _) => Fixpoint.Next(s))
    Fixpoint.iterate(spark, "fixpoint_spec_b_rounds", 0, 5) { (s, round) =>
      if (round == 1) Fixpoint.Done(s) else Fixpoint.Next(s)
    }
    assert(CacheRegistry.releaseQuery(spark)._2 ===
      Map("fixpoint_spec_a_rounds" -> 3L, "fixpoint_spec_b_rounds" -> 2L))
  }

  test("a lazily cut step costs its one action; an eager cut adds one job per round") {
    val fixed = spark.range(0, 2000, 1, 4).toDF("x").localCheckpoint()
    val (_, oneCount) = Jobs.count(spark)(fixed.count())
    assert(oneCount >= 1)
    // narrow, exchange-free step; the round's one action is the count
    def loop(eager: Boolean): Int = Jobs.count(spark) {
      val r = Fixpoint.iterate(spark, "fixpoint_spec_rounds", fixed, 5) { (df: DataFrame, _) =>
        val next = df.select((col("x") + 1).as("x")).localCheckpoint(eager)
        next.count()
        Fixpoint.Next(next)
      }
      assert(r.rounds === 5)
    }._2
    assert(loop(eager = false) === 5 * oneCount)
    assert(loop(eager = true) === 5 * oneCount + 5)
  }
}
