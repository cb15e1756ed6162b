package graft

import org.apache.spark.sql.SparkSession

/** Scheduler entry point for the daily pipeline — the counterpart of the
  * reference's Airflow DAG registration (`scheduling/orchestration.py:91-94`:
  * daily schedule, `catchup=False`, `max_active_runs=1`). Scheduling itself
  * stays out of engine scope (SURVEY §2.12): any scheduler — cron, Airflow
  * `BashOperator`, `spark-submit` step — invokes this main once per run:
  *
  * {{{
  *   spark-submit --class graft.PipelineMain graft.jar \
  *     /data/lakehouse 2024-01-01 [--shipments N] [--seed N] \
  *     [--export-csv] [--quarantine] [--retries N]
  * }}}
  *
  * Exit code 0 with one JSON object per stage on stdout on success
  * (`stage`, `rows`, `path`, `wall_s`; see [[stageJson]]); non-zero after
  * retries are exhausted (the retry/backoff semantics live in
  * [[Pipeline.retryStage]]). Under `spark-submit` the cluster's master is
  * respected; standalone it falls back to `local[SPARK_GRAFT_CPUS]`.
  */
object PipelineMain {

  final case class Args(
      rootDir: String,
      loadDate: String,
      nShipments: Long = 2000L,
      seed: Long = 42L,
      exportCsv: Boolean = false,
      quarantine: Boolean = false,
      retries: Int = 1)

  private[graft] def parse(argv: Array[String]): Args = {
    require(argv.length >= 2,
      "usage: PipelineMain <rootDir> <loadDate:yyyy-MM-dd> " +
        "[--shipments N] [--seed N] [--export-csv] [--quarantine] [--retries N]")
    require(argv(1).matches("""\d{4}-\d{2}-\d{2}"""), s"bad loadDate: ${argv(1)}")
    var a = Args(rootDir = argv(0), loadDate = argv(1))
    var i = 2
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"$flag needs a value")
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--shipments" => a = a.copy(nShipments = value("--shipments").toLong); i += 2
        case "--seed" => a = a.copy(seed = value("--seed").toLong); i += 2
        case "--export-csv" => a = a.copy(exportCsv = true); i += 1
        case "--quarantine" => a = a.copy(quarantine = true); i += 1
        case "--retries" => a = a.copy(retries = value("--retries").toInt); i += 2
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    a
  }

  /** Runs the pipeline on `spark`; factored from [[main]] so tests (and
    * embedding callers) can drive it with their own session. */
  def run(spark: SparkSession, a: Args): Seq[Pipeline.StageResult] =
    Pipeline.run(spark, a.rootDir, a.loadDate,
      nShipments = a.nShipments, seed = a.seed, exportCsv = a.exportCsv,
      retry = Pipeline.RetryPolicy(maxRetries = a.retries, backoffMs = 1000L),
      hooks = Pipeline.Hooks(
        onStageFailure = (stage, e, attempt) =>
          System.err.println(s"[pipeline] $stage attempt $attempt failed: ${e.getMessage}"),
        onExhausted = (stage, _) =>
          System.err.println(s"[pipeline] $stage exhausted retries")),
      quarantine = a.quarantine)

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One stage's record as the single-line JSON object [[main]] prints. */
  private[graft] def stageJson(r: Pipeline.StageResult): String =
    Json.writeValueAsString(Json.createObjectNode()
      .put("stage", r.stage).put("rows", r.rows).put("path", r.path).put("wall_s", r.wallS))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // under spark-submit the master comes from the launcher; standalone
    // falls back to local so `runMain graft.PipelineMain` works as-is
    val base = GraftSession.configure(SparkSession.builder().appName("graft-pipeline"))
    val spark = (if (sys.props.contains("spark.master")) base
      else {
        val cpus = GraftSession.cpus
        base.master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus.toString)
      }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = run(spark, a)
      results.foreach(r => println(stageJson(r)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[pipeline] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
