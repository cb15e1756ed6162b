package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits, on any thread. */
object Jobs {

  private val Sentinel = "graft.jobs.sentinel"

  /** `f`'s result and the jobs submitted while it runs. Listener delivery
    * is asynchronous, so a marked sentinel job runs after `f`: events
    * arrive in order, so once the sentinel's start is seen every earlier
    * start has been. Throws if the sentinel's start is not delivered
    * within a minute. */
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(Sentinel) != null))
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = f
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      if (!sentinel.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("sentinel job start never delivered")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
