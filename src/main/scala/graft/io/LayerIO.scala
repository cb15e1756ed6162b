package graft.io

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Layer storage helpers: row counts taken from the write itself, and
  * bucketed tables for co-located joins.
  *
  * Bucketing pre-shuffles a table by its join key at write time; two
  * tables bucketed the same way join with NO Exchange at read time —
  * at 100 TB this converts every fact⋈fact join on the bucket key from
  * a full-network shuffle into a local zip of bucket files. The cost is
  * paid once per write instead of once per query.
  */
object LayerIO {

  /** Runs `write` on `df` and returns the number of rows it wrote,
    * counted by the write's own job (`Dataset.observe`) instead of by a
    * second job that reads the output back. The count is delivered when
    * the write's execution ends, normally within milliseconds of `write`
    * returning; if it has not arrived within `wait` the call throws, so a
    * caller's stage fails and can be retried instead of hanging. */
  private[graft] def countedWrite(df: DataFrame, wait: FiniteDuration = 60.seconds)(
      write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1))))
    try Await.result(obs.future, wait).getLong(0)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(s"write's row count not delivered within $wait")
    }
  }

  /** Writes `df` as a bucketed+sorted managed table (parquet). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
