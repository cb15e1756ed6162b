package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The `params.json` side file of a persisted index (near-dup, PQ,
  * BM25): one flat JSON object of numbers, the parameters the index
  * was built with. Probes re-read it on every call without a Spark job
  * and fail loudly when theirs differ. */
object ParamsFile {
  private def path(dir: String) = new Path(s"$dir/params.json")

  /** Writes `fields` (name → number) as `dir`'s params file. */
  def write(spark: SparkSession, dir: String, fields: (String, AnyVal)*): Unit = {
    val p = path(dir)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(fields.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}").getBytes(UTF_8))
    finally out.close()
  }

  /** `dir`'s params as field name → number text. Fails loudly when `dir`
    * has no params file (it is not a `kind` index) or lacks a field. */
  def read(spark: SparkSession, dir: String, kind: String): String => String = {
    val p = path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$dir is not a $kind index (no params.json)")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), UTF_8) finally in.close()
    name => s""""$name"\\s*:\\s*([-0-9.eE]+)""".r.findFirstMatchIn(txt)
      .getOrElse(throw new IllegalArgumentException(
        s"params.json at $dir lacks '$name': $txt"))
      .group(1)
  }
}
