package graft.util

import java.nio.file.{Files, Path}

/** Bounded-retention temp dirs for the index-building query entries
  * (t15/t16/v05): each invocation gets a FRESH subdir under one per-JVM
  * parent, and all but the newest two subdirs are pruned. Fresh-per-call
  * keeps a previously returned lazy DataFrame's on-disk index valid (an
  * in-place overwrite would delete parquet files a held frame still
  * references); the two-generation retention bounds disk for long-lived
  * drivers that re-invoke the query (a frame held across MORE than one
  * re-invocation sees its files pruned — materialize before re-running).
  */
object RotatingTempDir {
  private val parents = scala.collection.mutable.Map.empty[String, Path]
  private val counters = scala.collection.mutable.Map.empty[String, Long]

  /** Returns a fresh subdir path for `tag` and prunes generations older
    * than the previous one. Thread-safe. */
  def next(tag: String): String = synchronized {
    val parent = parents.getOrElseUpdate(tag, Files.createTempDirectory(tag))
    val n = counters.getOrElse(tag, 0L)
    counters(tag) = n + 1
    val keep = Set(f"i${n - 1}%06d", f"i$n%06d")
    val children = Files.list(parent)
    try {
      children.forEach { c =>
        if (!keep.contains(c.getFileName.toString)) deleteRecursively(c)
      }
    } finally children.close()
    parent.resolve(f"i$n%06d").toString
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
