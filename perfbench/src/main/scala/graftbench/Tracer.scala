package graftbench

import scala.collection.mutable

/** One timed call into a layer. `parent` is the id of the enclosing span
  * on the same thread (0 for a root), `op` the op every span of one
  * benchmark operation shares. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, op: Long, parent: Int,
    startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Records spans around the benchmark's calls into the engine's layers.
  * Spans stay in memory until [[writeJsonl]]; a disabled tracer runs the
  * body and records nothing, so timed runs carry no instrumentation. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  // inheritable, so a pool the traced code starts inside a span (the gold
  // fan-out) records its spans as that span's children, under the same op
  private val stack = new InheritableThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val currentOp = new InheritableThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Runs `body` as op `op`: spans opened inside it carry that id. */
  def op[T](op: Long)(body: => T): T = {
    val prev = currentOp.get
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, currentOp.get, parent, t0, t1) }
      }
    }

  /** Adds a span measured elsewhere, e.g. a request timed by a client
    * thread that must not hold a tracer frame across its wait, or a stage
    * read off Spark's job events; returns its id (0 when disabled). */
  def record(name: String, op: Long, startNs: Long, endNs: Long, parent: Int = 0): Int =
    if (!enabled) 0
    else synchronized {
      nextId += 1
      spans += Span(nextId, name, op, parent, startNs, endNs)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Seconds per span name, summed over every span of that name. */
  def totals: Map[String, Double] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durationNs).sum / 1e9 }

  /** Self time per span name in seconds: each span's duration minus the
    * part of its interval covered by its children. */
  def selfTimes: Map[String, Double] = Tracer.selfTimes(all)

  /** Writes one JSON object per span, times in microseconds from the first
    * span's start. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val ss = all.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        s.durationNs - Stats.unionLength(kids.map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) })
      }.sum / 1e9
    }
  }
}
