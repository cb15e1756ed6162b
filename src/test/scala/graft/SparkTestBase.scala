package graft

import java.nio.file.{Files, Path}

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

  override protected def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.filter(Files.exists(_)).foreach(graft.util.CacheRegistry.deleteRecursively)
      tempDirs.clear()
    }
    finally super.afterAll()
}
