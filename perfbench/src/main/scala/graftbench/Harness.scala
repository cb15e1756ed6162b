package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, a work directory it owns,
  * the workload seed, the timed window, the tracing switches, and the
  * engine's source root (`src/main/scala`), which a traced run reads to
  * name the stage a job's call site points at. `counters` is present only
  * in traced runs. */
final case class Ctx(spark: SparkSession, work: java.nio.file.Path, seed: Long,
    seconds: Int, tracer: Tracer, counters: Option[SparkCounters], startNs: Long,
    engineSrc: java.nio.file.Path) {
  def traced: Boolean = counters.isDefined
}

/** A workload's result. `endToEnd` carries the timed figures, `layers`
  * the per-layer figures (empty unless traced), `series` the per-op latencies in ms in the order they ran,
  * warm-up first, so the knee between cold and warm ops stays visible. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
    endToEnd: Map[String, Double], layers: Map[String, Double],
    series: Map[String, Seq[Double]])

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Counts ops and the reasons they failed. An op fails when it throws,
  * answers with the wrong status, or fails an output check. */
final class Tally {
  private var attemptedN = 0
  private val failedOps = scala.collection.mutable.LinkedHashMap.empty[Long, String]

  def attempt(): Unit = synchronized { attemptedN += 1 }
  def fail(op: Long, why: String): Unit = synchronized {
    if (!failedOps.contains(op)) failedOps(op) = why
  }
  def attempted: Int = synchronized(attemptedN)
  def failed: Int = synchronized(failedOps.size)
  def ratio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  def problems: Seq[String] = synchronized(failedOps.toSeq.map { case (op, w) => s"op $op: $w" })
}

object Jvm {
  // the tenured pools: eden and survivor peaks only show how full the young
  // generation got before its next collection, not what the run retained
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .filterNot(p => p.getName.contains("Eden") || p.getName.contains("Survivor"))

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of each tenured heap pool's peak since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}

object Files {
  /** Regular data files under `dir` (Hadoop's hidden `.crc`/`_SUCCESS`
    * side files excluded): (count, bytes). */
  def dataFiles(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + java.nio.file.Files.size(p)) }
      finally s.close()
    }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
}

object Log {
  def apply(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}

object Clock {
  def ms(ns: Long): Double = ns / 1e6

  /** Runs `body`, returning its result and its wall time in ns. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}
