package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.gen.BronzeGenerator
import graft.gold.StarSchema
import graft.silver.SilverTransform

/** End-to-end layered pipeline runner — replaces the reference's Airflow
  * DAG (`scheduling/orchestration.py:164-167`: generate → check → silver →
  * gold) with one driver:
  *
  *   gen → bronze JSON → silver parquet (partitioned by load_date) →
  *   gold versioned parquet (dims/facts/KPIs, per-table [[graft.io.VersionedTable]]s)
  *
  * Stage properties preserved from the reference: idempotent
  * overwrite-per-partition writes, bronze-existence precheck, per-stage
  * row counts. Gold stays typed parquet (the reference writes CSV and
  * loses every type — SURVEY §1.2); `exportCsv` mirrors to CSV for
  * compatibility.
  *
  * Scale notes: silver is written partitioned by load_date so daily
  * reruns replace one partition; the 7 gold outputs reuse one cached
  * silver scan instead of re-reading 7× like the reference
  * (`starschema.py:75-146`).
  */
object Pipeline {

  final case class StageResult(stage: String, rows: Long, path: String)

  /** Per-stage retry policy (the reference's Airflow tasks run with
    * `retries=1..2, retry_delay=…`, `orchestration.py:124-147`).
    * `maxRetries` is the number of RE-attempts after the first failure. */
  final case class RetryPolicy(maxRetries: Int = 1, backoffMs: Long = 0L,
      backoffFactor: Double = 2.0)

  /** Lifecycle hooks mirroring the reference DAG's notify tasks
    * (`orchestration.py:150-160`): `onSuccess` ≈ notify_success,
    * `onExhausted` ≈ notify_failure with trigger_rule=one_failed (fires
    * once, when a stage runs out of retries); `onStageFailure` observes
    * every individual failure (attempt number included) for logging. */
  final case class Hooks(
      onSuccess: Seq[StageResult] => Unit = _ => (),
      onStageFailure: (String, Throwable, Int) => Unit = (_, _, _) => (),
      onExhausted: (String, Throwable) => Unit = (_, _) => ())

  /** Runs `body`, retrying per `policy`; every failure is reported to
    * `hooks.onStageFailure`, exhaustion to `hooks.onExhausted` before
    * the final error propagates. Stages must be idempotent to be
    * retryable — which the overwrite-per-partition writes here are. */
  private[graft] def retryStage[T](stage: String, policy: RetryPolicy, hooks: Hooks)(
      body: => T): T = {
    var attempt = 0
    var delay = policy.backoffMs
    while (true) {
      // NonFatal only: a VM error (OOM) or interrupt must propagate, not
      // burn retries — retrying after OOM on the same plan rarely helps
      // and hides the real failure
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          hooks.onStageFailure(stage, e, attempt)
          if (attempt > policy.maxRetries) {
            hooks.onExhausted(stage, e)
            throw e
          }
          if (delay > 0) {
            try Thread.sleep(delay)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt() // preserve the cancel signal
                throw ie
            }
          }
          delay = (delay * policy.backoffFactor).toLong
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Reads the current committed snapshot of a gold table written by
    * [[run]] (gold tables are [[graft.io.VersionedTable]]s, not plain
    * parquet dirs — read through the marker log, not the raw path). */
  def readGold(spark: SparkSession, rootDir: String, loadDate: String,
      table: String): DataFrame =
    graft.io.VersionedTable.read(spark, s"$rootDir/gold/$loadDate/$table")

  /** `bronzeSource`: when provided, the bronze stage ingests THIS frame
    * (written as the same JSON-per-day layer) instead of generating one
    * — the oracle-gated composed run (p07b) feeds corpus-derived bronze
    * here so DuckDB can replay the whole pipeline; production callers
    * can point it at any upstream extract. `nShipments`/`seed` only
    * apply to the generator path. */
  def run(
      spark: SparkSession,
      rootDir: String,
      loadDate: String,
      nShipments: Long = 2000L,
      seed: Long = 42L,
      exportCsv: Boolean = false,
      retry: RetryPolicy = RetryPolicy(),
      hooks: Hooks = Hooks(),
      quarantine: Boolean = false,
      bronzeSource: Option[DataFrame] = None): Seq[StageResult] = {
    val loadTs = java.sql.Timestamp.valueOf(s"$loadDate 00:00:00")
    val bronzeDir = s"$rootDir/bronze/shipments/$loadDate"
    val silverDir = s"$rootDir/silver/shipments"
    val goldDir = s"$rootDir/gold/$loadDate"

    // gen → bronze JSON (the reference's raw layer is JSON-per-day,
    // extraction.py:114-136)
    val bronzeRows = retryStage("bronze", retry, hooks) {
      val bronzeOut = bronzeSource.getOrElse(
        BronzeGenerator.shipments(spark, nShipments, seed, loadDate))
      bronzeOut.write.mode(SaveMode.Overwrite).json(bronzeDir)
      // generator row count is nShipments by construction; a provided
      // source is counted from the written layer as LINES (Spark's JSON
      // writer emits one record per line) — a schema'd JSON count would
      // re-PARSE the whole layer, the slowest scan in the pipeline,
      // just to report a number (measured: a third full JSON pass at
      // the 100× decade)
      bronzeSource.fold(nShipments)(_ =>
        spark.read.text(bronzeDir).count())
    }

    val (silverRows, quarantinedRows) = retryStage("silver", retry, hooks) {
      // precheck (orchestration.py:51-83) then bronze JSON → silver
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(bronzeDir), spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(bronzeDir)), s"bronze missing: $bronzeDir")

      val bronze = spark.read.schema(graft.model.Schemas.bronzeShipment).json(bronzeDir)
      // emptiness guard (reference `Silver_tranformation.py:67`): Dataset
      // .isEmpty, not rdd.isEmpty — no RDD conversion, stops at first row
      require(!bronze.isEmpty, s"bronze empty for $loadDate")
      val transformed = SilverTransform.transform(bronze, loadDate, loadTs)
      // row-level quarantine replaces the reference's try/except-per-file
      // (a bad record there silently drops the whole day): bad rows land
      // inspectable under quarantine/, good rows proceed
      // with quarantine on, the transform output feeds three consumers
      // (bad count, bad write, clean write) — persist it once so the
      // transform runs a single time and the rule filters scan the cache
      // the finally covers every consumer of the cache (bad count, bad
      // write, clean write): a failure in any of them — each retryable —
      // must not leak a persisted copy per attempt
      val cached = if (quarantine) Some(transformed.persist()) else None
      try {
        val (silver, quarantined) = if (!quarantine) (transformed, 0L) else {
          val split = graft.silver.DataQuality.check(transformed, graft.silver.DataQuality.silverRules)
          val bad = split.quarantine.withColumn("violations",
            org.apache.spark.sql.functions.concat_ws(",",
              org.apache.spark.sql.functions.col("violations")))
          val nBad = bad.count()
          // overwrite even when empty: a rerun of a date that previously had
          // bad rows must not leave the stale quarantine dir on disk
          // contradicting the rows=0 stage result
          bad.write.mode(SaveMode.Overwrite).parquet(s"$rootDir/quarantine/silver/$loadDate")
          (split.clean, nBad)
        }
        silver.write.mode(SaveMode.Overwrite).partitionBy("load_date").parquet(silverDir)
        (spark.read.parquet(silverDir).where(s"load_date = '$loadDate'").count(), quarantined)
      } finally cached.foreach(_.unpersist())
    }

    // silver → gold: the silver scan fans out to 7 outputs UNCACHED —
    // each gold table re-reads the parquet with its OWN pruned column
    // subset, which beats materializing the full-width frame once
    // (r17 A/B, SURVEY.md; the GoldFanoutAB harness is at commit
    // 1451c40: at 100× sf0.1 no-persist reads
    // 17.9–23.9 s / GC 0.2–0.5 s vs MEMORY_AND_DISK 41.8–49.4 s /
    // GC 1.3–2.1 s and ~33 GB transient residency; DISK_ONLY sits
    // between at 33–44 s. At sf0.1 all three tie at 2.2–2.5 s — the
    // persist bought nothing at small scale and cost 2× at large, so
    // the re-scan-7× trade the reference takes is the right one HERE,
    // where the shared input is a pruned-columnar on-disk table; the
    // dedup/ANN operators keep their persists, where the shared frame
    // is an expensive computed intermediate, not a scan.)
    // One retryable stage. Each gold table is a VersionedTable
    // (snapshot + atomic marker commit), so a rerun publishes a NEW
    // snapshot instead of deleting the live one — a reader mid-rerun
    // always resolves a complete committed table, never the
    // partial/missing window a plain overwrite opens. vacuum(keep = 2)
    // bounds storage across reruns while leaving the previous snapshot
    // alive for readers that resolved it pre-commit.
    val goldResults = retryStage("gold", retry, hooks) {
      val silverBack = spark.read.parquet(silverDir)
        .where(s"load_date = '$loadDate'")
      val goldTables: Seq[(String, DataFrame)] = Seq(
        "dim_courier" -> StarSchema.dimCourier(silverBack),
        "dim_location" -> StarSchema.dimLocation(silverBack),
        "dim_date" -> StarSchema.dimDate(silverBack),
        "dim_shipment_status" -> StarSchema.dimStatus(silverBack),
        "fact_shipment" -> StarSchema.factShipment(silverBack),
        "fact_tracking_event" -> StarSchema.factTrackingEvent(silverBack),
        "fact_courier_metrics" -> StarSchema.courierMetrics(silverBack))
      // The 7 gold tables are INDEPENDENT jobs over disjoint roots —
      // submit them from a small thread pool (guide §2.6 overlap) so the
      // next table's tasks back-fill executors freed by the current
      // table's write/commit tail, instead of paying 7 sequential
      // scan→write→count job latencies. Each write is a VersionedTable
      // snapshot+marker commit on its OWN root (no shared state across
      // tables), the data written per table is identical to the
      // sequential form, and result order is pinned by the table list,
      // not completion order. 4 in flight: enough to fill tails without
      // the writes fighting for task slots. Stage-level retry semantics
      // unchanged: the first failure propagates out of the await and the
      // whole (idempotent) stage re-runs.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      var ok = false
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futures = goldTables.map { case (name, df) =>
          scala.concurrent.Future {
            val tableRoot = s"$goldDir/$name"
            graft.io.VersionedTable.write(spark, tableRoot, df)
            graft.io.VersionedTable.vacuum(spark, tableRoot, keep = 2)
            if (exportCsv)
              df.write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$goldDir/csv/$name")
            StageResult(s"gold/$name", readGold(spark, rootDir, loadDate, name).count(), tableRoot)
          }
        }
        val out = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
        ok = true
        out
      } finally {
        // On failure, DRAIN before the exception escapes retryStage
        // (ADVICE r18): a plain shutdown() lets queued/in-flight futures
        // keep writing while the retry attempt starts — two writers on
        // one table root, and with --export-csv two concurrent
        // SaveMode.Overwrite jobs on the same CSV dir. shutdownNow drops
        // the queue and interrupts workers; awaitTermination blocks the
        // retry until every zombie writer has exited.
        if (ok) pool.shutdown()
        else {
          pool.shutdownNow()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          ()
        }
      }
    }

    val results = Seq(
      StageResult("bronze", bronzeRows, bronzeDir),
      StageResult("silver", silverRows, silverDir)) ++
      (if (quarantine)
        Seq(StageResult("quarantine", quarantinedRows, s"$rootDir/quarantine/silver/$loadDate"))
      else Seq.empty) ++
      goldResults
    hooks.onSuccess(results)
    results
  }
}
