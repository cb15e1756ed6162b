package graft.serve

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StringType

/** Serving-side sinks and artifact discovery (SURVEY §2 S9/S11/O1).
  *
  * The reference logs each prediction by serializing a 1-row CSV to the
  * object store (`API/pastapi.py:146-163`) and resolves "the latest
  * model" by lexicographic sort of folder names (`pastapi.py:76`). Here:
  * a typed, `log_date`-partitioned parquet log that the driver writes
  * itself, one file per append and per date (no Spark job, no lock), and
  * filesystem-API listing.
  */
object PredictionLog {

  /** Appends `log`'s rows: its string columns, one of them `log_date`.
    * A local frame (`Seq(...).toDF`) collects without a Spark job; the
    * rows are written by [[write]]. */
  def append(log: DataFrame, dir: String): Unit = {
    require(log.schema.forall(_.dataType == StringType),
      s"prediction log columns must be strings, got ${log.schema.simpleString}")
    write(log.sparkSession.sparkContext.hadoopConfiguration, dir, log.columns.toSeq,
      log.collect().toSeq.map(r => Seq.tabulate(r.length)(r.getString)))
  }

  /** Writes `rows` (values in `columns` order, nulls allowed) as one
    * parquet file per `log_date`, laid out as Spark's partitioned write
    * lays it out: `log_date` only in the dir name, the other columns as
    * optional `BINARY (STRING)`. Each file is written under a hidden name
    * (`.<uuid>.tmp`, which a reader's listing skips), closed, then renamed
    * to `part-<uuid>.parquet`: a reader sees a whole file or none, and
    * concurrent appends touch disjoint files, so they need no lock. An
    * append that dies mid-write leaves only a hidden file behind. */
  private[serve] def write(conf: Configuration, dir: String, columns: Seq[String],
      rows: Seq[Seq[String]]): Unit = {
    val dateAt = columns.indexOf("log_date")
    require(dateAt >= 0, s"prediction log needs a log_date column, got ${columns.mkString(", ")}")
    val data = columns.indices.filter(_ != dateAt)
    val schema = new MessageType("spark_schema", data.map(i =>
      Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(columns(i)): Type): _*)
    rows.groupBy(_(dateAt)).foreach { case (date, dated) =>
      val part = new Path(dir, ExternalCatalogUtils.getPartitionPathString("log_date", date))
      val fs = part.getFileSystem(conf)
      val id = UUID.randomUUID()
      val tmp = fs.makeQualified(new Path(part, s".$id.tmp"))
      // a local file goes through java.nio: without Hadoop's native library,
      // its local file system forks a `chmod` process for every file it
      // creates, most of a one-row append's time
      val out = if (tmp.toUri.getScheme == "file") {
        val local = java.nio.file.Path.of(tmp.toUri)
        java.nio.file.Files.createDirectories(local.getParent)
        new LocalOutputFile(local)
      } else HadoopOutputFile.fromPath(tmp, conf)
      val writer = ExampleParquetWriter.builder(out).withConf(conf).withType(schema).build()
      try dated.foreach { row =>
        val g = new SimpleGroup(schema)
        data.zipWithIndex.foreach { case (c, i) => if (row(c) != null) g.add(i, row(c)) }
        writer.write(g)
      }
      finally writer.close()
      if (!fs.rename(tmp, new Path(part, s"part-$id.parquet")))
        throw new java.io.IOException(s"could not commit prediction log file $tmp")
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Latest dated subdirectory (lexicographic ISO dates sort temporally)
    * — the model-artifact resolution shape from `pastapi.py:62-91`. */
  def latestRun(spark: SparkSession, root: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .sorted(Ordering[String].reverse).headOption
  }

  /** Warehouse export via JDBC (SURVEY §2 S7). Thin by design: typed DDL
    * comes from the DataFrame schema instead of the reference's
    * all-STRING tables (`snowflake_connection.py:97-101`). Round-tripped
    * in tests against embedded Derby (PredictionLogSpec) — the same
    * write path a real warehouse URL exercises. */
  def exportJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
}
