package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of the engine's session-scoped state, keyed by
  * `SparkSession` (by identity: a child session from `newSession()` is
  * its own owner). Two lifetimes:
  *
  *  - query-scoped frames: persisted intermediates that feed several
  *    plan branches (Catalyst does not CSE across branches, so an
  *    unpersisted shared frame re-executes its whole upstream plan per
  *    branch). Operators persist through [[track]] (or hand over an
  *    already-persisted frame with [[register]]); [[releaseQuery]] frees
  *    them. Callers must materialize a query's result before releasing.
  *  - session-scoped memos ([[memo]]): values built once per session and
  *    reused by every later query — the shared silver frame, scan-split
  *    decisions, staged stream inputs. Each carries its own release.
  *
  * [[release]] frees everything one session owns and leaves every other
  * session's state alone — including the cache entries Spark shares
  * between sessions (see [[unpersist]]). `GraftSession.installCacheBackstop` calls
  * [[releaseStopped]] at application end, so a driver that never
  * releases does not pin stopped sessions for the JVM lifetime. */
object CacheRegistry {
  private final class Owned {
    val frames = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val memos = scala.collection.mutable.Map.empty[Any, (Any, () => Unit)]
  }
  private val owners = scala.collection.mutable.Map.empty[SparkSession, Owned]

  private def owned(spark: SparkSession): Owned =
    owners.getOrElseUpdate(spark, new Owned)

  private def quietly(f: => Unit): Unit =
    try f catch { case _: Throwable => () }

  /** Persists `df` and owns it until its session's next [[releaseQuery]]. */
  def track(df: DataFrame): DataFrame = {
    val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(persisted)
    persisted
  }

  /** Owns an ALREADY-persisted frame (e.g. one persisted inside an
    * iterative loop) without re-persisting it. */
  def register(df: DataFrame): Unit = synchronized {
    owned(df.sparkSession).frames += df
  }

  /** The value memoized under `key` for `spark`, built on first use and
    * freed by `release` when the session is released. `build` runs
    * outside the registry lock (it may run Spark jobs); if two callers
    * race, both get the first value stored and the loser's is released. */
  def memo[V](spark: SparkSession, key: Any)(build: => V)(release: V => Unit): V = {
    val hit = synchronized(owners.get(spark).flatMap(_.memos.get(key)))
    hit match {
      case Some((v, _)) => v.asInstanceOf[V]
      case None =>
        val built = build
        val kept = synchronized {
          owned(spark).memos.getOrElseUpdate(key, (built, () => release(built)))._1
        }.asInstanceOf[V]
        if (kept.asInstanceOf[AnyRef] ne built.asInstanceOf[AnyRef]) quietly(release(built))
        kept
    }
  }

  /** Unpersists `df` unless a frame still owned here (by any session)
    * has the same plan. Spark's cache is keyed by plan and shared by
    * every session of a context, so two sessions persisting one plan
    * hold ONE entry, and a plain unpersist from either would drop the
    * other's. The release for memoized frames. */
  def unpersist(df: DataFrame): Unit = quietly {
    val live = synchronized(owners.values.flatMap { o =>
      o.frames ++ o.memos.values.collect { case (f: DataFrame, _) => f }
    }.toList)
    val plan = df.queryExecution.analyzed
    if (!live.exists(_.queryExecution.analyzed.sameResult(plan)))
      df.unpersist()
  }

  /** Frees the frames `spark` tracked; its memos survive. */
  def releaseQuery(spark: SparkSession): Unit =
    synchronized {
      owners.get(spark).map { o =>
        val fs = o.frames.toList
        o.frames.clear()
        fs
      }.getOrElse(Nil)
    }.foreach(unpersist)

  /** Frees everything `spark` owns: its frames and its memos. */
  def release(spark: SparkSession): Unit =
    synchronized(owners.remove(spark)).foreach { o =>
      o.frames.foreach(unpersist)
      o.memos.values.foreach { case (_, free) => quietly(free()) }
    }

  /** Releases every session whose SparkContext has stopped — by then no
    * query or stream of theirs can still be reading. */
  def releaseStopped(): Unit =
    synchronized(owners.keys.filter(_.sparkContext.isStopped).toList)
      .foreach(release)

  /** Test hooks: what `spark` currently owns. */
  private[graft] def frames(spark: SparkSession): Seq[DataFrame] =
    synchronized(owners.get(spark).map(_.frames.toList).getOrElse(Nil))
  private[graft] def memos(spark: SparkSession): Map[Any, Any] =
    synchronized(owners.get(spark).map(_.memos.map { case (k, (v, _)) => k -> v }.toMap)
      .getOrElse(Map.empty))
}
