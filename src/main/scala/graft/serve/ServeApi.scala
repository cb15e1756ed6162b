package graft.serve

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame

/** HTTP serving layer over [[ServeQueries]] — the reference's FastAPI
  * process (`API/pastapi.py:168-219`: `/predict/tracking/`,
  * `/predict/country/`) re-expressed on the JDK's built-in
  * `com.sun.net.httpserver` (no new dependency).
  *
  * Differences by design:
  *  - answers come from a [[ServeIndex]] per read route, built once from
  *    the Silver frame by the same [[ServeQueries]] run over all keys,
  *    so a request runs no Spark job to find its answer (the reference
  *    pins the whole gold table in driver-side pandas, `pastapi.py:125`);
  *    a route with more keys than the bound runs its query per request;
  *  - the model is fitted once and passed in — no per-request label
  *    re-encoding (`pastapi.py:134-141` re-fits encoders per request,
  *    shifting encodings with every filtered subset);
  *  - time is injected (`asOfDate`) instead of `datetime.now()`, so
  *    responses are deterministic and testable;
  *  - each prediction is one typed parquet file in a `log_date`-partitioned
  *    log ([[PredictionLog.write]], on the request thread, no Spark job and
  *    no lock) instead of a 1-row CSV serialized to the object store
  *    (`pastapi.py:146-163`);
  *  - the socket runs with `TCP_NODELAY` (`sun.net.httpserver.nodelay`),
  *    so a keep-alive client does not wait out Nagle's algorithm and its
  *    own delayed ACK (~40 ms) for each response body;
  *  - `/health` reports each route's index state and `/metrics` each read
  *    route's status counts and latency histogram.
  */
object ServeApi {

  final case class Config(
      asOfDate: String,
      logDir: Option[String] = None)

  /** Starts the server on `port` (0 = ephemeral) and returns it; callers
    * stop it with `server.stop(0)`. Both read routes' [[ServeIndex]]es
    * are built from `silver` before this returns, so no request waits on
    * a build; `silver` should be cached by the caller. */
  def start(silver: DataFrame, model: Option[PipelineModel],
      config: Config, port: Int = 0): HttpServer =
    start(silver, model, config, port, ServeIndex.DefaultBound)

  /** [[start]] with the routes' [[ServeIndex]] bound (0 answers every
    * request through the per-key Spark queries). */
  private[graft] def start(silver: DataFrame, model: Option[PipelineModel],
      config: Config, port: Int, indexBound: Int): HttpServer = {
    // the two builds are independent batch jobs: run them side by side
    val countryBuild = java.util.concurrent.CompletableFuture.supplyAsync(
      () => ServeIndex.country(silver, config.asOfDate, indexBound))
    val tracking = ServeIndex.tracking(silver, model, indexBound)
    val country = countryBuild.join()
    val trackingStats, countryStats = new RouteStats
    // the JDK server sends a response's headers and body as two writes;
    // with Nagle on, the body waits for the client's delayed ACK of the
    // headers (~40 ms on Linux) on every keep-alive request. The JDK reads
    // this property once, when the first server in the JVM is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/predict/tracking/",
      readRoute(trackingStats)(trackingRoute(tracking, silver, config, _)))
    server.createContext("/predict/country/",
      readRoute(countryStats)(countryRoute(country, silver, config, _)))
    page(server, "/health")(ex => respond(ex, 200, jsonObj(Seq(
      "status" -> "ok", "tracking" -> tracking.state, "country" -> country.state))))
    page(server, "/metrics")(ex => respond(ex, 200, jsonObj(Seq(
      "tracking" -> trackingStats.json, "country" -> countryStats.json))))
    page(server, "/ui", "/ui/")(ex => respondHtml(ex, 200, uiPage))
    page(server, "/")(ex => respond(ex, 200, jsonObj(Seq(
      "service" -> "graft-serving",
      "routes" -> ("/ui, /health, /metrics, /predict/tracking/?tracking_id=…, " +
        "/predict/country/?country=…")))))
    // small pool: request handling is IO-light, and a hit is a map
    // lookup. `stop` never shuts an executor down, so the threads are
    // daemons that exit after 30 s idle: a stopped server keeps neither
    // its JVM alive nor its threads parked.
    val pool = new ThreadPoolExecutor(4, 4, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-serve-${serveThreads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
    server.start()
    server
  }

  private val serveThreads = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Serves `paths` exactly: com.sun HttpServer contexts match by path
    * PREFIX, so without the check `/ui` would also serve /uix, /ui/anything… */
  private def page(server: HttpServer, paths: String*)(body: HttpExchange => Unit): Unit =
    server.createContext(paths.head, (ex: HttpExchange) => safely(ex) {
      if (paths.contains(ex.getRequestURI.getPath)) body(ex)
      else respond(ex, 404, error("not found"))
    })

  /** A read route: the answer is recorded in `stats`, then sent; a route
    * that throws answers 500. Recording before sending means a client
    * that reads `/metrics` after its answer sees it counted. */
  private def readRoute(stats: RouteStats)(answer: HttpExchange => (Int, String)): HttpHandler =
    (ex: HttpExchange) => safely(ex) {
      val t0 = System.nanoTime()
      val (status, body) =
        try answer(ex)
        catch { case t: Throwable => 500 -> error(t.toString) }
      stats.record(status, (System.nanoTime() - t0) / 1e6)
      respond(ex, status, body)
    }

  private def error(message: String): String = jsonObj(Seq("error" -> message))

  /** `/predict/tracking/?tracking_id=TN…` (`pastapi.py:168-194`): point
    * lookup + latest checkpoint, predicted status from the fitted model
    * (or the recorded delivery_status when no model is supplied). */
  private def trackingRoute(index: ServeIndex[ServeIndex.Tracking], silver: DataFrame,
      config: Config, ex: HttpExchange): (Int, String) =
    queryParam(ex, "tracking_id") match {
      case None => 400 -> error("missing query param tracking_id")
      case Some(id) =>
        index.lookup(id) match {
          case None => 404 -> error(s"Tracking ID '$id' not found.")
          case Some(t) =>
            logPrediction(silver, config, "tracking", id, t.predictedStatus)
            200 -> jsonObj(Seq(
              "tracking_id" -> id,
              "courier" -> t.courier,
              "origin" -> t.origin,
              "destination" -> t.destination,
              "last_checkpoint_city" -> t.lastCheckpointCity,
              "last_checkpoint_message" -> t.lastCheckpointMessage,
              "predicted_status" -> t.predictedStatus,
              "predicted_on" -> config.asOfDate))
        }
    }

  /** `/predict/country/?country=…` (`pastapi.py:197-219`): mean delivery
    * days to a destination + projected date from the injected clock. */
  private def countryRoute(index: ServeIndex[ServeIndex.Country], silver: DataFrame,
      config: Config, ex: HttpExchange): (Int, String) =
    queryParam(ex, "country") match {
      case None => 400 -> error("missing query param country")
      case Some(country) =>
        index.lookup(country) match {
          case None => 404 -> error(s"No data for country '$country'.")
          case Some(ServeIndex.Country(n, Some(avg), Some(date))) =>
            logPrediction(silver, config, "country", country.toUpperCase, avg.toString)
            200 -> jsonObj(Seq(
              "country" -> country.toUpperCase,
              "n_shipments" -> n,
              "average_delivery_days" -> avg,
              "expected_delivery_date" -> date))
          // shipments can exist with delivery_days all null (in transit,
          // never delivered) — that's a data gap, not a server fault:
          // answer 422 with a JSON error, not a 500
          case Some(_) => 422 -> error(s"No completed deliveries recorded for country '$country'.")
        }
    }

  /** Append-mode prediction log (S9) — typed parquet, date-partitioned.
    * The row goes straight to the log's driver-side writer: no frame to
    * analyse, no Spark job. */
  private def logPrediction(silver: DataFrame, config: Config,
      route: String, key: String, prediction: String): Unit =
    config.logDir.foreach { dir =>
      PredictionLog.write(silver.sparkSession.sparkContext.hadoopConfiguration, dir,
        LogColumns, Seq(Seq(route, key, prediction, config.asOfDate)))
    }

  private val LogColumns = Seq("route", "lookup_key", "prediction", "log_date")

  /** The thin HTML frontend (`API/delivery-frontend.html:1-74` in the
    * reference): a one-field form over `/predict/country/`. Served from
    * the same process on a relative URL, so it works on any host:port
    * (the reference hardcodes `http://localhost:8000`). */
  private[graft] val uiPage: String =
    """<!DOCTYPE html>
      |<html lang="en">
      |<head>
      |<meta charset="utf-8">
      |<meta name="viewport" content="width=device-width, initial-scale=1">
      |<title>Delivery time by country — graft</title>
      |<style>
      |  body{font:16px system-ui,sans-serif;max-width:40rem;margin:3rem auto;padding:0 1rem}
      |  fieldset{border:1px solid #ccc;border-radius:6px;padding:1rem}
      |  input,button{font:inherit;padding:.5rem;margin:.25rem 0}
      |  input{width:100%;box-sizing:border-box}
      |  button{cursor:pointer}
      |  #out{margin-top:1rem;padding:.75rem;border-radius:6px;display:none}
      |  #out.ok{background:#eef6ee;display:block}
      |  #out.err{background:#f6eeee;display:block}
      |</style>
      |</head>
      |<body>
      |<h1>Delivery time by country</h1>
      |<fieldset>
      |  <label for="c">Destination country code (e.g. USA, IND)</label>
      |  <input id="c" maxlength="10" autofocus>
      |  <button id="go">Predict</button>
      |</fieldset>
      |<div id="out"></div>
      |<script>
      |const out = document.getElementById('out');
      |async function go() {
      |  const c = document.getElementById('c').value.trim().toUpperCase();
      |  if (!c) return;
      |  out.className = ''; out.textContent = '…';
      |  try {
      |    const r = await fetch('/predict/country/?country=' + encodeURIComponent(c));
      |    const d = await r.json();
      |    if (!r.ok || d.error) throw new Error(d.error || ('HTTP ' + r.status));
      |    out.className = 'ok';
      |    out.innerHTML = '<b>' + d.country + '</b>: ' + d.n_shipments +
      |      ' shipments, avg ' + d.average_delivery_days.toFixed(1) +
      |      ' days, expected ' + d.expected_delivery_date;
      |  } catch (e) {
      |    out.className = 'err';
      |    out.textContent = 'Error: ' + e.message;
      |  }
      |}
      |document.getElementById('go').addEventListener('click', go);
      |document.getElementById('c').addEventListener('keydown',
      |  e => { if (e.key === 'Enter') go(); });
      |</script>
      |</body>
      |</html>
      |""".stripMargin

  /** Upper edges of the latency histogram buckets, in ms; one more
    * bucket counts everything above the last edge. */
  private val LatencyEdgesMs = Seq(1, 2, 5, 10, 20, 50, 100, 200, 500, 1000, 2000, 5000)

  /** A read route's request counts by status code and latency histogram,
    * recorded with adders: no lock on the request path. */
  private final class RouteStats {
    private val byStatus = new ConcurrentHashMap[Int, LongAdder]()
    private val buckets = Seq.fill(LatencyEdgesMs.size + 1)(new LongAdder)

    def record(status: Int, ms: Double): Unit = {
      // `get` first: computeIfAbsent may lock even when the key is there
      Option(byStatus.get(status))
        .getOrElse(byStatus.computeIfAbsent(status, _ => new LongAdder)).increment()
      val i = LatencyEdgesMs.indexWhere(ms <= _)
      buckets(if (i < 0) LatencyEdgesMs.size else i).increment()
    }

    def json: Obj = {
      import scala.jdk.CollectionConverters._
      Obj(Seq(
        "status" -> Obj(byStatus.asScala.toSeq.sortBy(_._1).map { case (c, n) => c.toString -> n.sum }),
        "latency_ms" -> Obj(Seq("edges" -> LatencyEdgesMs, "counts" -> buckets.map(_.sum)))))
    }
  }

  // ---- plumbing ----------------------------------------------------------

  private def safely(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case t: Throwable =>
        try respond(ex, 500, error(t.toString))
        catch { case _: Throwable => () }
    }
    finally ex.close()

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).iterator
      .flatMap(_.split('&'))
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if URLDecoder.decode(k, "UTF-8") == name =>
        URLDecoder.decode(v, "UTF-8") }
      .filter(_.nonEmpty)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit =
    respondWith(ex, status, body, "application/json; charset=utf-8")

  private def respondHtml(ex: HttpExchange, status: Int, body: String): Unit =
    respondWith(ex, status, body, "text/html; charset=utf-8")

  private def respondWith(ex: HttpExchange, status: Int, body: String,
      contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** A nested JSON object value for [[jsonObj]]. */
  private[serve] final case class Obj(fields: Seq[(String, Any)])

  /** Minimal JSON object writer (strings escaped; numbers inline; [[Obj]]
    * and `Seq` values nest) — the response shapes here are small, no
    * library needed. */
  private[graft] def jsonObj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + escape(k) + "\":" + jsonValue(v) }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + escape(s) + "\""
    case Obj(fields) => jsonObj(fields)
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}

/** Runnable serving process: `runMain graft.serve.ServeMain <sfDir>
  * [port] [modelDir]` — builds the Silver frame once, caches it, loads a
  * saved PipelineModel when given one, builds both routes' indexes, and
  * serves until killed. */
object ServeMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeMain <sfDir> [port] [modelDir]")
    val dir = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val model = if (args.length > 2) Some(PipelineModel.load(args(2))) else None
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val silver = graft.model.CorpusAdapter
      .silverFlat(spark, dir, "2024-01-01",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .persist()
    val server = ServeApi.start(silver, model,
      ServeApi.Config(asOfDate = java.time.LocalDate.now().toString), port)
    println(s"[serve] listening on ${server.getAddress}")
    Thread.currentThread().join()
  }
}
