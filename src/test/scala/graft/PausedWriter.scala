package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf

/** Interleaves two read-modify-write writers deterministically, with no
  * hook in the code under test: the paused writer runs in a second
  * thread on `updates` passed through a gate UDF, which blocks the first
  * time a task evaluates it — after the writer has taken its base
  * version, since every read-modify-write writer takes its base before
  * it evaluates its updates. `whileHeld` runs in the caller's thread in
  * that window; then the gate opens and the paused writer's outcome is
  * returned. Keep `updates` to one row, so one task blocks. */
object PausedWriter {
  private val reached = new AtomicReference[CountDownLatch]()
  private val release = new AtomicReference[CountDownLatch]()

  def race[A](updates: DataFrame)(writer: DataFrame => A)(whileHeld: => Unit): Try[A] = {
    reached.set(new CountDownLatch(1))
    release.set(new CountDownLatch(1))
    val gate = udf { () =>
      reached.get.countDown()
      release.get.await(60, TimeUnit.SECONDS)
    }.asNondeterministic()
    @volatile var outcome: Try[A] = null
    val t = new Thread(() => outcome = Try(writer(updates.filter(gate()))))
    t.start()
    try {
      assert(reached.get.await(60, TimeUnit.SECONDS), "the paused writer never reached its gate")
      whileHeld
    } finally release.get.countDown()
    t.join(120000)
    assert(outcome != null, "the paused writer did not finish")
    outcome
  }
}
