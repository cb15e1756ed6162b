package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test JVM (Test/fork gives us a single
  * forked JVM; suites share it instead of paying session startup each). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp dir, deleted with everything in it after the suite. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += dir)
    dir
  }

  /** Jobs submitted while `f` runs, on any thread. Listener delivery is
    * asynchronous, so a marked sentinel job runs after `f`: events arrive
    * in order, so once the sentinel's start is seen every earlier start
    * has been. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("graft.spec.sentinel") != null))
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.sentinel", null)
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job start never delivered")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.filter(Files.exists(_)).foreach(graft.util.CacheRegistry.deleteRecursively)
      tempDirs.clear()
    }
    finally super.afterAll()
}
