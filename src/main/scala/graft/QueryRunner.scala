package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.CacheRegistry

/** The one way a driver runs a declared query entry: [[graft.Bench]],
  * [[graft.Verify]], [[graft.tools.PlanDump]] and the smoke spec pick
  * their entries with [[selected]] and run each through [[run]]. */
object QueryRunner {

  /** One run of an entry: wall seconds from the entry call to the end of
    * the sink, the failure if there was one, the phase seconds and counts
    * the session recorded since its previous [[CacheRegistry.releaseQuery]],
    * and the GC seconds and used-heap delta (MB) across the run. */
  final case class Record(elapsed: Double, error: Option[Throwable],
      phases: Map[String, Double], counts: Map[String, Long],
      gcSec: Double, heapMb: Long) {
    def ok: Boolean = error.isEmpty
  }

  /** The sink that runs a frame's whole plan without writing anything
    * (unlike `count()`, which lets Catalyst prune aggregations). */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The entry names `only` selects, sorted: a comma list whose names are
    * trimmed and whose blanks are dropped, or every declared entry when
    * `only` is unset. A name that is not declared, or a list that names
    * nothing, throws, so a typo fails before any query runs. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val declared = SparkEntry.queries.keySet
    only.fold(declared.toSeq) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      val unknown = names.filterNot(declared)
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$list' names no query")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names undeclared queries: ${unknown.mkString(", ")}")
      names
    }.sorted
  }

  /** Runs entry `name` on the fixture `dir` and hands its frame to
    * `sink`. A failure of either is caught into the record and printed
    * to stderr, so the query's frames and scratch dirs are always
    * released, after the sink: the frame reads them lazily. */
  def run(spark: SparkSession, name: String, dir: String)(sink: DataFrame => Unit): Record = {
    val entry = SparkEntry.queries(name)
    val gc0 = gcMillis()
    val h0 = heapUsed()
    val t0 = System.nanoTime()
    val error =
      try { sink(entry(spark, dir)); None }
      catch { case e: Throwable =>
        System.err.println(s"[run] $name failed: ${e.getMessage}")
        Some(e)
      }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis() - gc0) / 1e3
    val heapMb = (heapUsed() - h0) / (1024L * 1024L)
    val (phases, counts) = CacheRegistry.releaseQuery(spark)
    Record(elapsed, error, phases, counts, gcSec, heapMb)
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  private def heapUsed(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}
