package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.Pipeline.StageResult
import graft.gold.StarSchema
import graft.io.VersionedTable

/** Batch write path: one op is one daily load, `Pipeline.run` with the
  * quarantine on, over consecutive dates; after the timed window a loaded
  * date is loaded again (the overwrite path). */
object MedallionWeek extends Workload {
  val name = "medallion_week"

  /** The reference generator's average day (50–90k shipments). */
  val Shipments = 10000L
  /** Untimed loads before the window; the first pays class loading, JIT
    * and code generation (see the notes for the knee). */
  val WarmupLoads = 3
  val Reloads = 1

  val GoldTables: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dim_courier" -> StarSchema.dimCourier,
    "dim_location" -> StarSchema.dimLocation,
    "dim_date" -> StarSchema.dimDate,
    "dim_shipment_status" -> StarSchema.dimStatus,
    "fact_shipment" -> StarSchema.factShipment,
    "fact_tracking_event" -> StarSchema.factTrackingEvent,
    "fact_courier_metrics" -> StarSchema.courierMetrics)

  /** Fixed gold dimension sizes: 10 couriers, 50 cities × 12 countries,
    * one created date per load, 7 statuses. */
  val DimRows: Map[String, Long] = Map(
    "gold/dim_courier" -> 10L, "gold/dim_location" -> 600L, "gold/dim_date" -> 1L,
    "gold/dim_shipment_status" -> 7L, "gold/fact_courier_metrics" -> 10L)

  def date(day: Int): String = java.time.LocalDate.of(2024, 3, 1).plusDays(day.toLong).toString
  def daySeed(seed: Long, day: Int): Long = seed * 1000003L + day

  def load(spark: SparkSession, root: String, day: Int, seed: Long): Seq[StageResult] =
    Pipeline.run(spark, root, date(day), Shipments, daySeed(seed, day), quarantine = true)

  /** The stage row-count identities of one load; empty when they hold. */
  def checkLoad(results: Seq[StageResult]): Seq[String] = {
    val rows = results.map(r => r.stage -> r.rows).toMap
    def expect(stage: String, want: Long): Option[String] =
      rows.get(stage) match {
        case Some(n) if n == want => None
        case got => Some(s"$stage rows ${got.getOrElse("missing")}, expected $want")
      }
    val silver = rows.getOrElse("silver", -1L)
    (Seq(expect("bronze", Shipments),
      if (silver > 0) None else Some(s"silver rows $silver"),
      expect("gold/fact_shipment", silver),
      expect("gold/fact_tracking_event", silver)) ++
      DimRows.toSeq.sorted.map { case (s, n) => expect(s, n) }).flatten
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * a 31-bit row hash. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(Int.MaxValue.toLong))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def goldHashes(spark: SparkSession, root: String, day: Int): Map[String, (Long, Long)] =
    GoldTables.map { case (t, _) => t -> contentHash(Pipeline.readGold(spark, root, date(day), t)) }.toMap

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val warm = ctx.work.resolve("warm")
    val warmSeries = (1 to WarmupLoads).map { i =>
      Clock.ms(Clock.timed(load(spark, warm.toString, -i, ctx.seed))._2)
    }
    Files.deleteTree(warm)
    val setupS = (System.nanoTime() - ctx.startNs) / 1e9

    val lake = ctx.work.resolve("lake")
    val root = lake.toString
    ctx.counters.foreach(_.drain())
    val tally = new Tally
    val loadMs = ArrayBuffer.empty[Double]
    val loaded = ArrayBuffer.empty[(Int, Seq[StageResult])]
    val layerOps = ArrayBuffer.empty[TracedLoad]
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    var tEnd = t0
    var day = 0
    while (day == 0 || System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      tally.attempt()
      val startMs = System.currentTimeMillis()
      val (res, ns) = Clock.timed(Try {
        if (ctx.traced) SparkCounters.tagged(spark, day.toString)(load(spark, root, day, ctx.seed))
        else load(spark, root, day, ctx.seed)
      })
      val endMs = System.currentTimeMillis()
      tEnd = System.nanoTime()
      res match {
        case Success(results) =>
          loadMs += Clock.ms(ns)
          loaded += day -> results
          checkLoad(results).foreach(p => tally.fail(day, p))
          if (ctx.traced) layerOps += TracedLoad(day, startMs, endMs, Map(
            "silver.rows" -> results.find(_.stage == "silver").map(_.rows.toDouble).getOrElse(0.0),
            "silver.quarantined_rows" -> results.find(_.stage == "quarantine").map(_.rows.toDouble).getOrElse(0.0)) ++
            writtenFiles(lake, date(day)))
        case Failure(e) => tally.fail(day, e.toString)
      }
      day += 1
    }
    val windowS = (tEnd - t0) / 1e9
    val gcS = Jvm.gcSeconds - gc0
    val heapMb = Jvm.heapPeakMb
    val counters = ctx.counters.map(_.drain())
    val layers = counters.fold(Map.empty[String, Double]) { c =>
      layerMetrics(ctx, root, c, layerOps.toSeq, tally, gcS, heapMb)
    }

    // the overwrite path: load already-loaded dates again; counts and gold
    // content must come out identical
    val rerunMs = ArrayBuffer.empty[Double]
    loaded.take(Reloads).foreach { case (d, first) =>
      val op = 1000L + d
      tally.attempt()
      Try {
        val before = goldHashes(spark, root, d)
        val (again, ns) = Clock.timed(load(spark, root, d, ctx.seed))
        rerunMs += Clock.ms(ns)
        val after = goldHashes(spark, root, d)
        val counts = first.map(r => r.stage -> r.rows) != again.map(r => r.stage -> r.rows)
        (counts, before != after)
      } match {
        case Success((countsDiffer, contentDiffers)) =>
          if (countsDiffer) tally.fail(op, s"re-load of ${date(d)} changed row counts")
          if (contentDiffers) tally.fail(op, s"re-load of ${date(d)} changed gold content")
        case Failure(e) => tally.fail(op, e.toString)
      }
    }

    val okLoads = loaded.size
    val endToEnd = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> (if (windowS > 0) Shipments * okLoads / windowS else 0.0),
      "failed_ratio" -> tally.ratio) ++
      Stats.summarize("latency_ms", loadMs.toSeq) ++ Stats.summarize("rerun_ms", rerunMs.toSeq)

    val jobsPerOp = counters.toSeq.flatMap(c => loaded.map(l => c.forOp(l._1.toString).jobs.size.toDouble))
    Outcome(tally.attempted, tally.failed, tally.problems, endToEnd, layers,
      Map("warmup_ms" -> warmSeries, "load_ms" -> loadMs.toSeq, "rerun_ms" -> rerunMs.toSeq) ++
        (if (ctx.traced) Map("spark_jobs" -> jobsPerOp) else Map.empty))
  }

  /** One timed load of a traced run: its op id, wall-clock interval and the
    * figures read off its output. */
  final case class TracedLoad(day: Int, startMs: Long, endMs: Long, figures: Map[String, Double])

  /** Files and bytes one load wrote, by layer. */
  private def writtenFiles(lake: java.nio.file.Path, d: String): Map[String, Double] = {
    val (bn, bb) = Files.dataFiles(lake.resolve(s"bronze/shipments/$d"))
    val (sn, sb) = Files.dataFiles(lake.resolve(s"silver/shipments/load_date=$d"))
    val (qn, qb) = Files.dataFiles(lake.resolve(s"quarantine/silver/$d"))
    val (gn, gb) = Files.dataFiles(lake.resolve(s"gold/$d"))
    Map("gen.bronze_mb" -> bb / 1e6,
      "io.files_written" -> (bn + sn + qn + gn).toDouble,
      "io.bytes_per_bronze_byte" -> (if (bb > 0) (sb + qb + gb).toDouble / bb else 0.0))
  }

  private val RunFrame = """graft\.Pipeline\$\.run\(Pipeline\.scala:(\d+)\)""".r
  private val StageCall = """retryStage\("(\w+)"""".r
  private val GoldPath = """/gold/\d{4}-\d{2}-\d{2}/(\w+)""".r
  private val StageSpan = Map("bronze" -> "gen.bronze", "silver" -> "silver.transform",
    "gold" -> "gold.fanout")

  /** The `Pipeline.run` stage a job ran in, read from its call site. A job
    * submitted on the caller's thread has a `Pipeline.run` frame, whose line
    * in `pipelineSource` holds the `retryStage("<stage>", …)` call the job
    * ran inside. A job with Pipeline frames but no `run` frame came from the
    * thread pool that fans the gold tables out. */
  def stageOf(pipelineSource: IndexedSeq[String], callSite: String): Option[String] =
    RunFrame.findFirstMatchIn(callSite) match {
      case Some(m) => pipelineSource.lift(m.group(1).toInt - 1)
        .flatMap(StageCall.findFirstMatchIn).map(_.group(1))
      case None => if (callSite.contains("graft.Pipeline$")) Some("gold") else None
    }

  /** One job of a load: its interval, its `Pipeline.run` stage, the gold
    * table its plan writes or reads, and whether it is a
    * `VersionedTable.write`. */
  final case class LoadJob(startMs: Long, endMs: Long, stage: Option[String],
      table: Option[String], write: Boolean)

  def loadJobs(c: Counters, op: String, pipelineSource: IndexedSeq[String]): Seq[LoadJob] =
    c.forOp(op).jobs.map { j =>
      val site = c.callSite(j)
      LoadJob(j.startMs, j.endMs, stageOf(pipelineSource, site),
        GoldPath.findFirstMatchIn(c.planOf(j)).map(_.group(1)),
        site.contains("graft.io.VersionedTable$.write"))
    }

  /** A load's layer spans, (name, start ms, end ms, index of the parent
    * span or -1 for the load), parents first. The stage spans partition the
    * load: each stage runs from the end of the one before (or the load's
    * start) to the end of its last job, the last stage to the load's end.
    * Under the gold stage, a table spans its jobs, first start to last end,
    * which covers its write, vacuum and read-back; under a table, its
    * write and read-back spans cover its write jobs and its other jobs. */
  def loadSpans(jobs: Seq[LoadJob], startMs: Long, endMs: Long): Seq[(String, Long, Long, Int)] = {
    val out = ArrayBuffer.empty[(String, Long, Long, Int)]
    def cover(js: Seq[LoadJob]) = (js.map(_.startMs).min, js.map(_.endMs).max)
    val stages = jobs.filter(_.stage.isDefined).groupBy(_.stage.get).toSeq
      .sortBy(_._2.map(_.startMs).min)
    var from = startMs
    stages.zipWithIndex.foreach { case ((stage, js), i) =>
      val to = if (i == stages.size - 1) endMs else math.max(from, js.map(_.endMs).max)
      out += ((StageSpan.getOrElse(stage, s"pipeline.$stage"), from, to, -1))
      val stageIx = out.size - 1
      from = to
      if (stage == "gold") js.filter(_.table.isDefined).groupBy(_.table.get).toSeq.sortBy(_._1)
        .foreach { case (t, tjs) =>
          val (s, e) = cover(tjs)
          out += ((s"gold.$t", s, e, stageIx))
          val tableIx = out.size - 1
          Seq("io.versioned_write" -> tjs.filter(_.write), "io.read" -> tjs.filterNot(_.write))
            .filter(_._2.nonEmpty).foreach { case (n, ws) =>
              val (a, b) = cover(ws)
              out += ((n, a, b, tableIx))
            }
        }
    }
    out.toSeq
  }

  /** Per-load figures of a traced run. The `spark.*` counts are those of
    * the jobs each `Pipeline.run` call submitted, which carry its op tag;
    * the layer spans are read off the same jobs (see [[loadSpans]]).
    * `VersionedTable.vacuum` runs no Spark job, so it is timed by calling it
    * directly on every table the window loaded. */
  private def layerMetrics(ctx: Ctx, root: String, c: Counters, ops: Seq[TracedLoad],
      tally: Tally, gcS: Double, heapMb: Double): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val tr = ctx.tracer
    val source = scala.io.Source.fromFile(
      ctx.engineSrc.resolve("graft/Pipeline.scala").toFile, "UTF-8")
    val pipelineSource = try source.getLines().toIndexedSeq finally source.close()
    val tagged = c.copy(jobs = c.jobs.filter(_.op.isDefined))
    val gaps = ops.map { o =>
      val jobs = loadJobs(c, o.day.toString, pipelineSource)
      val stray = jobs.count(_.stage.isEmpty)
      if (stray > 0) tally.fail(o.day, s"$stray jobs not attributed to a Pipeline.run stage")
      val loadId = tr.record("medallion.load", o.day, o.startMs * 1000000L, o.endMs * 1000000L)
      val ids = ArrayBuffer.empty[Int]
      loadSpans(jobs, o.startMs, o.endMs).foreach { case (name, s, e, parent) =>
        ids += tr.record(name, o.day, s * 1000000L, e * 1000000L, if (parent < 0) loadId else ids(parent))
      }
      Stats.driverGap(o.startMs, o.endMs, jobs.map(j => (j.startMs, j.endMs)))
    }
    val vacuumS = ops.map { o =>
      GoldTables.map { case (t, _) =>
        Clock.timed(VersionedTable.vacuum(ctx.spark, s"$root/gold/${date(o.day)}/$t", keep = 2))._2
      }.sum / 1e9
    }
    val spans = tr.totals
    val spanKeys = Seq("gen.bronze", "silver.transform", "gold.fanout",
      "io.versioned_write", "io.read") ++ GoldTables.map(t => s"gold.${t._1}")
    spanKeys.map(k => s"${k}_s" -> spans.getOrElse(k, 0.0) / n).toMap ++
      Seq("gen.bronze_mb", "silver.rows", "silver.quarantined_rows", "io.files_written",
        "io.bytes_per_bronze_byte").map(k => k -> ops.map(_.figures.getOrElse(k, 0.0)).sum / n) ++
      tagged.sparkTotals.map { case (k, v) => k -> v / n } ++
      Map("io.vacuum_s" -> vacuumS.sum / n, "spark.driver_gap_s" -> gaps.sum / 1e3 / n,
        "jvm.gc_s" -> gcS / n, "jvm.heap_peak_mb" -> heapMb)
  }
}
