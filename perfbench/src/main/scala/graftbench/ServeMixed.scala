package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.{Failure, Success, Try}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, format_string, lit, substring}
import org.apache.spark.storage.StorageLevel

import graft.gen.BronzeGenerator
import graft.ml.DeliveryModel
import graft.serve.{PredictionLog, ServeApi, ServeQueries}
import graft.silver.SilverTransform

/** Point reads with writes beside them: `ServeApi` over a cached week of
  * silver with the prediction log on, driven by a closed loop of two
  * client connections. */
object ServeMixed extends Workload {
  val name = "serve_mixed"

  val ShipmentsPerDay = 5000L
  val Days = 7
  val Clients = 2
  /** Untimed requests before the window, over both clients; see the notes
    * for the knee they cover. */
  val WarmupRequests = 40
  /** Shipments the model is fitted on (see the notes). */
  val TrainShipments = 500L
  val AsOfDate = "2024-03-08"

  sealed trait Req { def path: String; def expect: Int; def kind: String }
  final case class Tracking(id: String) extends Req {
    def path = s"/predict/tracking/?tracking_id=$id"; def expect = 200; def kind = "tracking"
  }
  final case class Country(code: String) extends Req {
    def path = s"/predict/country/?country=$code"; def expect = 200; def kind = "country"
  }
  final case class Miss(path: String) extends Req { def expect = 404; def kind = "miss" }

  /** The request mix, as shuffled blocks of five: two tracking hits, two
    * country lookups over the 12 codes and one miss (an unknown tracking id
    * or country, alternating), so 40/40/20. Clients send whole blocks, so
    * every run asks in exactly these proportions. Tracking ids are skewed
    * towards hot ids (the cube of a uniform draw), as callers ask about a
    * few shipments more often; a lookup scans the whole cache, so the skew
    * changes which answers are checked, not what a lookup costs. See the
    * notes for why the mix is not 45/45/10. */
  val BlockSize = 5
  def requests(seed: Long): Iterator[Req] = {
    val r = new java.util.SplittableRandom(seed)
    val nIds = ShipmentsPerDay * Days
    var blocks = 0L
    def tracking(): Req = {
      val x = r.nextDouble()
      Tracking(f"TN${(nIds * x * x * x).toLong}%010d")
    }
    def country(): Req = Country(BronzeGenerator.CountryCodes(r.nextInt(BronzeGenerator.CountryCodes.size)))
    def block(): Seq[Req] = {
      val miss =
        if (blocks % 2 == 0) Miss(f"/predict/tracking/?tracking_id=TX${r.nextLong(1L << 40)}%013d")
        else Miss(f"/predict/country/?country=Z${r.nextInt(1000)}%03d")
      blocks += 1
      val a = Array(tracking(), tracking(), country(), country(), miss)
      for (i <- a.indices.reverse.init) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    Iterator.continually(block()).flatten
  }

  /** A week of silver. The generator numbers each day's shipments from 0,
    * so day `d` moves its tracking numbers up by `d` days' worth: a
    * tracking number then names one shipment, as in the reference. */
  def buildSilver(spark: SparkSession, seed: Long): DataFrame =
    (0 until Days).map { d =>
      val day = MedallionWeek.date(d)
      SilverTransform.transform(
        BronzeGenerator.shipments(spark, ShipmentsPerDay, MedallionWeek.daySeed(seed, d), day),
        day, java.sql.Timestamp.valueOf(s"$day 00:00:00"))
        .withColumn("tracking_number", format_string("TN%010d",
          substring(col("tracking_number"), 3, 10).cast("long") + lit(d * ShipmentsPerDay)))
    }.reduce(_ union _)

  /** One answered request. Times are nanoTime readings; `startMs`/`endMs`
    * are wall-clock, comparable with Spark's job times. */
  final case class Answer(client: Int, seq: Long, req: Req, status: Int, body: String,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def ms: Double = Clock.ms(endNs - startNs)
  }

  /** Closed loop: each client sends its next request when the previous
    * answer is in, for `count` requests, or until `deadlineNs` and then to
    * the end of its current block. */
  def drive(port: Int, seed: Long, deadlineNs: Long, count: Int, tally: Tally,
      opBase: Long): Seq[Answer] = {
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Answer]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
          .connectTimeout(Duration.ofSeconds(10)).build()
        val reqs = requests(seed * 31 + c)
        var i = 0L
        while ((count > 0 && i < count) ||
            (count == 0 && (i % BlockSize != 0 || System.nanoTime() < deadlineNs))) {
          val op = opBase + c * 1000000L + i
          val q = reqs.next()
          tally.attempt()
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          Try(http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path}"))
            .timeout(Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofString())) match {
            case Success(resp) =>
              val a = Answer(c, op, q, resp.statusCode(), resp.body(), t0, System.nanoTime(),
                startMs, System.currentTimeMillis())
              if (a.status != q.expect) tally.fail(op, s"${q.path} answered ${a.status}, expected ${q.expect}")
              else answers.add(a)
            case Failure(e) => tally.fail(op, s"${q.path}: $e")
          }
          i += 1
        }
      }, s"serve-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    scala.jdk.CollectionConverters.IteratorHasAsScala(answers.iterator()).asScala.toSeq
  }

  private val FieldRe = "\"([a-z_]+)\":(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}]*)".r
  def fields(body: String): Map[String, String] =
    FieldRe.findAllMatchIn(body).map(m => m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))).toMap

  /** Compares an answered request with direct engine calls; empty when
    * they agree. */
  def checkAnswer(silver: DataFrame, model: PipelineModel, a: Answer): Seq[String] = {
    val got = fields(a.body)
    def differ(k: String, want: Any): Option[String] =
      if (got.get(k).contains(String.valueOf(want))) None
      else Some(s"${a.req.path}: $k=${got.getOrElse(k, "missing")}, direct call gives $want")
    a.req match {
      case Tracking(id) =>
        val row = ServeQueries.trackingLookup(silver, id).collect().head
        def s(f: String) = Option(row.getAs[Any](f)).map(String.valueOf).getOrElse("UNKNOWN")
        val predicted = DeliveryModel.predict(model,
          DeliveryModel.features(silver.filter(col("tracking_number") === id)))
          .select("predicted_status").collect().head.getString(0)
        Seq(differ("courier", s("courier")), differ("origin", s("origin_country")),
          differ("destination", s("destination_country")),
          differ("last_checkpoint_city", s("last_checkpoint_city")),
          differ("last_checkpoint_message", s("last_checkpoint_message")),
          differ("predicted_status", predicted)).flatten
      case Country(code) =>
        val row = ServeQueries.countryExpectation(silver, code, AsOfDate).collect().head
        Seq(differ("n_shipments", row.getAs[Long]("n_shipments")),
          differ("average_delivery_days", row.getAs[Double]("avg_delivery_days")),
          differ("expected_delivery_date", row.getAs[java.sql.Date]("expected_delivery_date"))).flatten
      case Miss(_) => if (got.contains("error")) Nil else Seq(s"${a.req.path}: no error field")
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (silver, cacheNs) = Clock.timed {
      // one cached partition per core: at 28 small partitions (7 days × 4
      // range splits) a request's scans were mostly task scheduling, and the
      // two clients' task waves interleaved differently from run to run
      val s = buildSilver(spark, ctx.seed).coalesce(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    Log(f"silver cached in ${cacheNs / 1e9}%.1f s")
    val (model, trainNs) = Clock.timed {
      val sample = silver.filter(col("tracking_number") < f"TN$TrainShipments%010d")
      DeliveryModel.train(DeliveryModel.features(sample)).model
    }
    Log(f"model fitted in ${trainNs / 1e9}%.1f s")
    val logDir = ctx.work.resolve("predictions").toString
    val server = ServeApi.start(silver, Some(model), ServeApi.Config(AsOfDate, Some(logDir)))
    try {
      val port = server.getAddress.getPort
      val tally = new Tally
      Log(f"server up at ${(System.nanoTime() - ctx.startNs) / 1e9}%.1f s")
      val warm = drive(port, ctx.seed + 7777, 0L, WarmupRequests / Clients, new Tally, 0L)
      val setupS = (System.nanoTime() - ctx.startNs) / 1e9
      Log(f"set up in $setupS%.1f s")

      ctx.counters.foreach(_.drain())
      Jvm.resetHeapPeak()
      val gc0 = Jvm.gcSeconds
      val t0 = System.nanoTime()
      val answers = drive(port, ctx.seed, t0 + ctx.seconds * 1000000000L, 0, tally, 1L << 32)
      val windowS = (answers.map(_.endNs).maxOption.getOrElse(t0) - t0) / 1e9
      val gcS = Jvm.gcSeconds - gc0
      val heapMb = Jvm.heapPeakMb
      val counters = ctx.counters.map(_.drain())

      // output checks, untimed: sampled answers against direct calls, and
      // one log row per answered prediction
      val sample = Seq("tracking" -> 1, "country" -> 1, "miss" -> 2).flatMap { case (k, n) =>
        answers.filter(_.req.kind == k).sortBy(_.seq).take(n) }
      sample.foreach { a =>
        Try(checkAnswer(silver, model, a)) match {
          case Success(ps) => ps.headOption.foreach(p => tally.fail(a.seq, p))
          case Failure(e) => tally.fail(a.seq, s"check of ${a.req.path}: $e")
        }
      }
      val answered200 = (warm ++ answers).count(_.status == 200).toLong
      Try(PredictionLog.read(spark, logDir).count()) match {
        case Success(n) if n == answered200 =>
        case other => tally.fail(-1L, s"prediction log holds $other rows, expected $answered200")
      }

      val ms = answers.map(_.ms)
      val endToEnd = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> (if (windowS > 0) answers.size / windowS else 0.0),
        "failed_ratio" -> tally.ratio,
        "serve.cache_build_s" -> cacheNs / 1e9,
        "ml.train_s" -> trainNs / 1e9) ++
        Stats.summarize("latency_ms", ms) ++
        Stats.summarize("tracking_ms", answers.filter(_.req.kind == "tracking").map(_.ms)) ++
        Stats.summarize("country_ms", answers.filter(_.req.kind == "country").map(_.ms))

      val layers = counters.fold(Map.empty[String, Double]) { c =>
        layerMetrics(ctx, silver, model, answers, c, gcS, heapMb) ++
          Map("serve.cache_build_s" -> cacheNs / 1e9, "ml.train_s" -> trainNs / 1e9)
      }
      Outcome(tally.attempted, tally.failed, tally.problems, endToEnd, layers,
        Map("warmup_ms" -> warm.sortBy(_.startNs).map(_.ms), "request_ms" -> answers.sortBy(_.startNs).map(_.ms)))
    } finally server.stop(0)
  }

  /** Per-request figures of a traced run. Requests run inside the server's
    * handler threads, so the Spark counters are the window's totals divided
    * by the answered requests; the layer calls are timed by calling each
    * layer directly for a sample of requests after the window. */
  private def layerMetrics(ctx: Ctx, silver: DataFrame, model: PipelineModel,
      answers: Seq[Answer], c: Counters, gcS: Double, heapMb: Double): Map[String, Double] = {
    val n = math.max(answers.size, 1).toDouble
    val tr = ctx.tracer
    answers.foreach(a => tr.record(s"serve.request.${a.req.kind}", a.seq, a.startNs, a.endNs))
    val jobs = c.jobIntervals
    val gaps = answers.map(a => Stats.driverGap(a.startMs, a.endMs,
      jobs.filter { case (s, e) => e > a.startMs && s < a.endMs }))

    val direct = ctx.work.resolve("predictions-direct").toString
    val spark = silver.sparkSession
    import spark.implicits._
    val sample = answers.sortBy(_.seq).take(20)
    val directMs = sample.map { a =>
      val (_, ns) = Clock.timed(tr.op(a.seq)(tr.span(s"serve.direct.${a.req.kind}") {
        a.req match {
          case Tracking(id) =>
            tr.span("serve_queries.tracking_lookup")(ServeQueries.trackingLookup(silver, id).collect())
            val p = tr.span("ml.predict")(DeliveryModel.predict(model,
              DeliveryModel.features(silver.filter(col("tracking_number") === id)))
              .select("predicted_status").collect().head.getString(0))
            tr.span("serve.log_append")(PredictionLog.append(
              Seq(("tracking", id, p, AsOfDate)).toDF("route", "lookup_key", "prediction", "log_date"), direct))
          case Country(code) =>
            val r = tr.span("serve_queries.country")(
              ServeQueries.countryExpectation(silver, code, AsOfDate).collect().head)
            tr.span("serve.log_append")(PredictionLog.append(
              Seq(("country", code, String.valueOf(r.get(r.fieldIndex("avg_delivery_days"))), AsOfDate))
                .toDF("route", "lookup_key", "prediction", "log_date"), direct))
          case Miss(path) =>
            if (path.contains("tracking")) tr.span("serve_queries.tracking_lookup")(
              ServeQueries.trackingLookup(silver, path.split('=').last).collect())
            else tr.span("serve_queries.country")(
              ServeQueries.countryExpectation(silver, path.split('=').last, AsOfDate).collect())
        }
      }))
      a.req.kind -> Clock.ms(ns)
    }
    def spanMedianMs(name: String): Double = {
      val xs = tr.all.filter(_.name == name).map(s => Clock.ms(s.durationNs))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    // request latency not spent in the layer calls, per class, weighted by
    // how often each class was asked
    val httpMs = answers.groupBy(_.req.kind).toSeq.map { case (k, as) =>
      val d = directMs.collect { case (`k`, x) => x }
      as.size * (Stats.median(as.map(_.ms)) - (if (d.isEmpty) 0.0 else Stats.median(d)))
    }.sum / n

    Map(
      "serve_queries.tracking_lookup_ms" -> spanMedianMs("serve_queries.tracking_lookup"),
      "serve_queries.country_ms" -> spanMedianMs("serve_queries.country"),
      "ml.predict_ms" -> spanMedianMs("ml.predict"),
      "serve.log_append_ms" -> spanMedianMs("serve.log_append"),
      "serve.http_ms" -> httpMs,
      "serve.rows_scanned_per_answer" -> c.plan.getOrElse("plan.scan_rows", 0L) / n,
      "serve.exchanges_per_answer" -> c.plan.getOrElse("plan.exchanges", 0L) / n,
      "spark.driver_gap_s" -> gaps.sum / 1e3 / n,
      "jvm.gc_s" -> gcS / n, "jvm.heap_peak_mb" -> heapMb) ++
      c.sparkTotals.map { case (k, v) => k -> v / n }
  }
}
