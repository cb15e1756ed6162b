package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the shared benchmark corpus (TESTDATA.md): one parquet file
  * per table under a scale-factor directory (`/root/testdata/sf*`).
  *
  * Reads are plain parquet scans so Catalyst's pushdown/pruning applies:
  * filters and projections written downstream reach the scan
  * (`PushedFilters`/`ReadSchema` in explain output). At cluster scale the
  * same API works over partitioned/bucketed table layouts — nothing here
  * assumes a single file.
  */
object Corpus {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Natural key used to redistribute an under-parallel scan. Chosen to
    * match the downstream shuffle keys where possible (events → user_id
    * feeds the window/sessionize/as-of family; lineitem → l_orderkey feeds
    * the orders joins), so the rebalance exchange is REUSED instead of
    * re-shuffled. */
  private val rebalanceKey: Map[String, String] = Map(
    "customer" -> "c_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "documents" -> "doc_id",
    "embeddings" -> "vec_id", "events" -> "user_id")

  /** A scan over one small single-row-group file yields ONE split — and no
    * scan-time knob can split it further, so every per-row-heavy stage
    * (decimal aggregation, JSON extraction, shingling) would run on one
    * core. AQE can't help either: it only re-plans *shuffle* outputs, not
    * scans. When the scan under-parallelizes the cluster, redistribute by
    * a high-cardinality natural key (hash — round-robin would trigger
    * sort-before-repartition on the whole row). Filters and column pruning
    * still push through the repartition to the scan. At real multi-file
    * scale the split count exceeds the parallelism and this is a no-op. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    rebalanceKey.get(name) match {
      case Some(k) =>
        val p = spark.sparkContext.defaultParallelism
        // one planning pass per (session, dir, table) to learn the scan's
        // split count; the decision is a session memo so later queries
        // skip it
        val need = graft.util.CacheRegistry.memo(spark, ("split", dir, name))(
          df.rdd.getNumPartitions < p)(_ => ())
        if (need) df.repartition(p, col(k)) else df
      case None => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet carries TIMESTAMP(NANOS) which Spark reads as long
    * (nanosAsLong, see [[graft.GraftSession]]); truncate to micros exactly
    * like DuckDB/Arrow do so both engines see identical timestamps. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))

  /** Applies the ts normalization to any events-shaped frame (batch or
    * streaming), so every downstream operator sees one type: TIMESTAMP.
    * TIMESTAMP(NANOS) parquet arrives as long (the nanosAsLong session
    * flag) and is truncated to micros; un-adjusted TIMESTAMP(MICROS)
    * arrives as TIMESTAMP_NTZ (breaking unix_micros and friends) and is
    * cast — value-identical under the session's pinned UTC timezone,
    * matching DuckDB's naive read of the same file. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
