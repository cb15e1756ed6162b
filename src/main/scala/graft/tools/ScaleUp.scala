package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scaling-corpus builder (a dev utility like [[PlanDump]] —
  * NOT part of the engine): replicates the sf0.1 fixture ~Nx with
  * shifted ids so the shuffle-heavy queries can be timed one scale
  * point beyond the driver fixtures, turning the 100x design claims
  * (log-n CC rounds, bounded k-heaps, df²-capped blocking) into
  * measured slopes.
  *
  * Replication semantics: each replica is an INDEPENDENT copy of the
  * original problem —
  *  - documents: ids offset per replica; every token of replica r > 0
  *    is prefixed `r_`, a per-replica token bijection. Shingle/gram
  *    equality is invariant under it WITHIN a replica (each replica
  *    reproduces the original dedup problem exactly) and impossible
  *    ACROSS replicas (no cross-replica near-dup blowup that would
  *    change the workload's character rather than its scale);
  *  - embeddings: vec_id offset, vectors unchanged (probe-side queries
  *    stay the original vec_id < 5 five);
  *  - orders/lineitem/customer: join keys offset consistently so the
  *    key relationships replicate; dimension tables (nation/region/
  *    part/supplier) and events copy through unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1x")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    // arg 3 "shiftParts": also offset l_partkey and replicate part, for
    // queries where parts play a PAIR-GENERATING role (q39's co-purchase
    // graph): with partkeys copied through, every replica's orders land
    // in the SAME part id space, multiplying pair weights N× — an
    // N×-DENSER graph, not N independent copies (the same character
    // change the events time-shift avoids). Default false preserves the
    // layout the recorded r12 scaling tables used.
    val shiftParts = args.lift(3).contains("shiftParts")
    // arg 4: optional comma-list restricting which tables are written
    // (a single-query scale corpus needs only the tables it reads)
    val tableFilter = args.lift(4).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val OFF = 100000000L
    val reps = spark.range(replicas).select(col("id").as("_r"))

    def wanted(table: String): Boolean = tableFilter.forall(_.contains(table))

    def replicate(table: String)(shift: DataFrame => DataFrame): Unit =
      if (wanted(table))
        shift(spark.read.parquet(s"$src/$table.parquet").crossJoin(broadcast(reps)))
          .drop("_r")
          .write.mode("overwrite").parquet(s"$dst/$table.parquet")

    def copy(table: String): Unit =
      if (wanted(table))
        spark.read.parquet(s"$src/$table.parquet")
          .write.mode("overwrite").parquet(s"$dst/$table.parquet")

    replicate("documents")(df => df
      .withColumn("doc_id", col("doc_id") + col("_r") * OFF)
      .withColumn("text", when(col("_r") === 0, col("text"))
        .otherwise(array_join(
          transform(filter(split(col("text"), " "), t => t =!= lit("")),
            t => concat(col("_r").cast("string"), lit("_"), t)), " "))))
    // per-replica cyclic DIMENSION shift: inner products (hence cosines,
    // L2, every dedup/cluster verdict) are invariant under a permutation
    // applied to BOTH sides, so each replica reproduces the original
    // similarity structure exactly — while cos(v, shift_r(v)) across
    // replicas sits at the corpus noise floor instead of 1.0 (identical
    // copies would hand the embedding-dedup family C(replicas,2) planted
    // pairs per vector — a dense problem, not a scaled one)
    replicate("embeddings")(df => df
      .withColumn("vec_id", col("vec_id") + col("_r") * OFF)
      .withColumn("embedding", concat(
        slice(col("embedding"), (col("_r") % size(col("embedding"))) + lit(1),
          size(col("embedding")) - (col("_r") % size(col("embedding")))),
        slice(col("embedding"), lit(1),
          (col("_r") % size(col("embedding")))))))
    replicate("orders")(df => df
      .withColumn("o_orderkey", col("o_orderkey") + col("_r") * OFF)
      .withColumn("o_custkey", col("o_custkey") + col("_r") * OFF))
    replicate("lineitem")(df => {
      val base = df
        .withColumn("l_orderkey", col("l_orderkey") + col("_r") * OFF)
        .withColumn("l_suppkey", col("l_suppkey") + col("_r") * OFF)
      if (shiftParts) base.withColumn("l_partkey", col("l_partkey") + col("_r") * OFF)
      else base
    })
    replicate("customer")(df => df
      .withColumn("c_custkey", col("c_custkey") + col("_r") * OFF))
    // supplier replicates alongside lineitem's shifted l_suppkey so the
    // FK relationship replicates too (a copied-through supplier would
    // leave replica r > 0 probes dangling and change join selectivity
    // 10x); without shiftParts, l_partkey stays unshifted against the
    // copied-through part (with shiftParts, part replicates and
    // l_partkey shifts with it — see the lineitem branch above)
    replicate("supplier")(df => df
      .withColumn("s_suppkey", col("s_suppkey") + col("_r") * OFF))
    // events: TIMESTAMP(NANOS) reads as int64 nanos under the session's
    // nanosAsLong conf, so the replica is written as int64 —
    // Corpus.normalizeEventTs accepts both layouts. Users/event ids
    // offset per replica (matching the shifted customer keys, so the
    // stream-static joins keep their selectivity), and each replica's
    // TIME range shifts by 10 years: the (type, hour) co-occurrence
    // blocks behind the triangle/funnel/cohort queries stay
    // replica-disjoint — N independent copies of the original problem,
    // never one N×-denser block structure (which would scale the pair
    // set N² and change the workload's character, not its size)
    replicate("events")(df => df
      .withColumn("event_id", col("event_id") + col("_r") * OFF)
      .withColumn("user_id", col("user_id") + col("_r") * OFF)
      // ts surfaces as TIMESTAMP_NTZ under this session (nanos truncate
      // to micros on the round trip — the same truncation Corpus.events
      // applies, so query semantics are unchanged)
      .withColumn("ts", expr("ts + make_dt_interval(_r * 3650, 0, 0, 0)")))
    Seq("nation", "region").foreach(copy)
    if (shiftParts)
      replicate("part")(df =>
        df.withColumn("p_partkey", col("p_partkey") + col("_r") * OFF))
    else copy("part")
    println(s"[scaleup] wrote ${replicas}x $src -> $dst")
    spark.stop()
  }
}
