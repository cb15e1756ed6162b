package graft.util

import org.apache.spark.sql.SparkSession

/** The round loop of every iterative operator (the graph walks, the
  * connected-components schemes, the tokenizer learners, the clustering
  * and PCA iterations): it owns the round bound, the stop rule and the
  * round count, and nothing else — it makes no Spark call of its own.
  *
  * The step contract every caller relies on: a step that builds a new
  * DataFrame generation cuts it with `localCheckpoint(eager = false)`,
  * and the round's one action (the convergence test, the argmax
  * collect, the next round's broadcast/hash build) reads every
  * partition of that generation. The lazy cut still truncates the
  * logical plan at once — persist() alone would leave it growing by one
  * generation per round, until analysis of the nested plan dominates
  * wall time and a deep loop exhausts the driver on plan strings — but
  * its blocks materialize inside the action that already needs them, so
  * a round costs one action, not a checkpoint job plus an action, and a
  * final generation no action reads pays nothing. */
object Fixpoint {

  /** What one round returns: the state to iterate on, or the final state. */
  sealed trait Step[+S]
  final case class Next[+S](state: S) extends Step[S]
  final case class Done[+S](state: S) extends Step[S]

  /** `rounds` counts step calls, the `Done` call included; `converged`
    * says whether a step returned `Done` before the bound ran out. */
  final case class Result[+S](state: S, rounds: Int, converged: Boolean)

  /** Calls `step(state, round)` for round = 0, 1, … until it returns
    * [[Done]] or has been called `maxRounds` times, and records the
    * round count under `key` in `spark`'s record ([[CacheRegistry.count]]).
    * `maxRounds ≤ 0` runs no step and returns `init`. */
  def iterate[S](spark: SparkSession, key: String, init: S, maxRounds: Int)(
      step: (S, Int) => Step[S]): Result[S] = {
    @annotation.tailrec
    def go(s: S, round: Int): Result[S] =
      if (round >= maxRounds) Result(s, round, converged = false)
      else step(s, round) match {
        case Done(t) => Result(t, round + 1, converged = true)
        case Next(t) => go(t, round + 1)
      }
    val res = go(init, 0)
    CacheRegistry.count(spark, key, res.rounds.toLong)
    res
  }
}
