package graft.serve

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}

import graft.ml.DeliveryModel

/** HTTP serving layer over [[ServeQueries]] — the reference's FastAPI
  * process (`API/pastapi.py:168-219`: `/predict/tracking/`,
  * `/predict/country/`) re-expressed on the JDK's built-in
  * `com.sun.net.httpserver` (no new dependency).
  *
  * Differences by design:
  *  - queries run DISTRIBUTED against the Silver frame; only the answer
  *    row is collected (the reference pins the whole gold table in
  *    driver-side pandas, `pastapi.py:125`);
  *  - the model is fitted once and passed in — no per-request label
  *    re-encoding (`pastapi.py:134-141` re-fits encoders per request,
  *    shifting encodings with every filtered subset);
  *  - time is injected (`asOfDate`) instead of `datetime.now()`, so
  *    responses are deterministic and testable;
  *  - predictions append to a typed parquet log ([[PredictionLog]])
  *    instead of 1-row CSVs serialized to the object store
  *    (`pastapi.py:146-163`).
  */
object ServeApi {

  final case class Config(
      asOfDate: String,
      logDir: Option[String] = None)

  /** Starts the server on `port` (0 = ephemeral) and returns it; callers
    * stop it with `server.stop(0)`. `silver` should be cached by the
    * caller — every request plans against it. */
  private val serveThreads = new java.util.concurrent.atomic.AtomicInteger(0)

  def start(silver: DataFrame, model: Option[PipelineModel],
      config: Config, port: Int = 0): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/predict/tracking/", (ex: HttpExchange) =>
      safely(ex)(trackingRoute(silver, model, config, ex)))
    server.createContext("/predict/country/", (ex: HttpExchange) =>
      safely(ex)(countryRoute(silver, config, ex)))
    // com.sun HttpServer contexts match by path PREFIX, so without the
    // exact-path check this context would also serve /uix, /ui/anything…
    server.createContext("/ui", (ex: HttpExchange) => safely(ex) {
      val p = ex.getRequestURI.getPath
      if (p == "/ui" || p == "/ui/") respondHtml(ex, 200, uiPage)
      else respond(ex, 404, jsonObj(Seq("error" -> "not found")))
    })
    server.createContext("/", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestURI.getPath == "/")
        respond(ex, 200, jsonObj(Seq(
          "service" -> "graft-serving",
          "routes" -> "/ui, /predict/tracking/?tracking_id=…, /predict/country/?country=…")))
      else respond(ex, 404, jsonObj(Seq("error" -> "not found")))
    })
    // small fixed pool: request handling is IO-light, the work happens in
    // the Spark jobs the handlers trigger. `stop` never shuts an
    // executor down, so the threads are daemons: a stopped server must
    // not keep its JVM alive.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, s"graft-serve-${serveThreads.incrementAndGet()}")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  /** `/predict/tracking/?tracking_id=TN…` (`pastapi.py:168-194`): point
    * lookup + latest checkpoint, predicted status from the fitted model
    * (or the recorded delivery_status when no model is supplied). */
  private def trackingRoute(silver: DataFrame, model: Option[PipelineModel],
      config: Config, ex: HttpExchange): Unit =
    queryParam(ex, "tracking_id") match {
      case None => respond(ex, 400, jsonObj(Seq("error" -> "missing query param tracking_id")))
      case Some(id) =>
        val hit = ServeQueries.trackingLookup(silver, id)
        hit.collect().headOption match {
          case None => respond(ex, 404, jsonObj(Seq("error" -> s"Tracking ID '$id' not found.")))
          case Some(row) =>
            val predicted = model match {
              case Some(m) =>
                // single-row inference through the SAME fitted pipeline as
                // batch scoring — encoders frozen at training time
                val feats = DeliveryModel.features(
                  silver.filter(silver("tracking_number") === id))
                DeliveryModel.predict(m, feats)
                  .select("predicted_status").collect()
                  .headOption.map(_.getString(0)).getOrElse("UNKNOWN")
              case None => str(row, "delivery_status")
            }
            val body = jsonObj(Seq(
              "tracking_id" -> id,
              "courier" -> str(row, "courier"),
              "origin" -> str(row, "origin_country"),
              "destination" -> str(row, "destination_country"),
              "last_checkpoint_city" -> str(row, "last_checkpoint_city"),
              "last_checkpoint_message" -> str(row, "last_checkpoint_message"),
              "predicted_status" -> predicted,
              "predicted_on" -> config.asOfDate))
            logPrediction(silver, config, "tracking", id, predicted)
            respond(ex, 200, body)
        }
    }

  /** `/predict/country/?country=…` (`pastapi.py:197-219`): mean delivery
    * days to a destination + projected date from the injected clock. */
  private def countryRoute(silver: DataFrame, config: Config, ex: HttpExchange): Unit =
    queryParam(ex, "country") match {
      case None => respond(ex, 400, jsonObj(Seq("error" -> "missing query param country")))
      case Some(country) =>
        val agg = ServeQueries.countryExpectation(silver, country, config.asOfDate)
        // a miss is an agg row with n_shipments=0 and null averages
        agg.collect().headOption.filter(r => r.getLong(r.fieldIndex("n_shipments")) > 0) match {
          case None => respond(ex, 404, jsonObj(Seq("error" -> s"No data for country '$country'.")))
          case Some(row) =>
            val iAvg = row.fieldIndex("avg_delivery_days")
            val iDate = row.fieldIndex("expected_delivery_date")
            // shipments can exist with delivery_days all null (in transit,
            // never delivered) — that's a data gap, not a server fault:
            // answer 422 with a JSON error, don't let getDouble NPE into a 500
            if (row.isNullAt(iAvg) || row.isNullAt(iDate))
              respond(ex, 422, jsonObj(Seq("error" ->
                s"No completed deliveries recorded for country '$country'.")))
            else {
              val avg = row.getDouble(iAvg)
              val body = jsonObj(Seq(
                "country" -> country.toUpperCase,
                "n_shipments" -> row.getLong(row.fieldIndex("n_shipments")),
                "average_delivery_days" -> avg,
                "expected_delivery_date" -> row.getDate(iDate).toString))
              logPrediction(silver, config, "country", country.toUpperCase, avg.toString)
              respond(ex, 200, body)
            }
        }
    }

  /** Append-mode prediction log (S9) — typed parquet, date-partitioned. */
  private def logPrediction(silver: DataFrame, config: Config,
      route: String, key: String, prediction: String): Unit =
    config.logDir.foreach { dir =>
      val spark = silver.sparkSession
      import spark.implicits._
      PredictionLog.append(
        Seq((route, key, prediction, config.asOfDate))
          .toDF("route", "lookup_key", "prediction", "log_date"), dir)
    }

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

  // ---- plumbing ----------------------------------------------------------

  private def safely(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case t: Throwable =>
        try respond(ex, 500, jsonObj(Seq("error" -> t.toString)))
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

  private def str(row: Row, field: String): String = {
    val i = row.fieldIndex(field)
    if (row.isNullAt(i)) "UNKNOWN" else String.valueOf(row.get(i))
  }

  /** Minimal JSON object writer (strings escaped; numbers inline) — the
    * response shapes here are flat, no library needed. */
  private[graft] def jsonObj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val value = v match {
        case s: String => "\"" + escape(s) + "\""
        case other => String.valueOf(other)
      }
      "\"" + escape(k) + "\":" + value
    }.mkString("{", ",", "}")

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
  * saved PipelineModel when given one, and serves until killed. */
object ServeMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeMain <sfDir> [port] [modelDir]")
    val dir = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val model = if (args.length > 2) Some(PipelineModel.load(args(2))) else None
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val silver = graft.model.CorpusAdapter
      .silverFlat(spark, dir, "2024-01-01",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .persist()
    silver.count() // materialize before accepting traffic
    val server = ServeApi.start(silver, model,
      ServeApi.Config(asOfDate = java.time.LocalDate.now().toString), port)
    println(s"[serve] listening on ${server.getAddress}")
    Thread.currentThread().join()
  }
}
