package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.model.CorpusAdapter
import graft.serve.{PredictionLog, ServeApi, ServeIndex, ServeQueries}

/** End-to-end HTTP serving (`API/pastapi.py:168-219`): real server on an
  * ephemeral port, real requests, responses checked against the same
  * queries the p03/p04 oracles verify. */
class ServeApiSpec extends SparkTestBase {

  private lazy val silver = CorpusAdapter
    .silverFlat(spark, sf0001, "2024-01-01",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    .cache()

  private lazy val http = HttpClient.newHttpClient()

  private def get(server: com.sun.net.httpserver.HttpServer, pathAndQuery: String): (Int, String) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("tracking and country routes answer with the oracle-checked query results") {
    val logDir = tempDir("graft_serve_log_").toString + "/log"
    val server = ServeApi.start(silver, model = None,
      ServeApi.Config(asOfDate = "2024-06-01", logDir = Some(logDir)))
    try {
      val (st, body) = get(server, "/predict/tracking/?tracking_id=TN100")
      assert(st === 200, body)
      val expect = ServeQueries.trackingLookup(silver, "TN100").collect().head
      assert(body.contains("\"tracking_id\":\"TN100\""))
      assert(body.contains(s""""courier":"${expect.getString(expect.fieldIndex("courier"))}""""))
      assert(body.contains(
        s""""destination":"${expect.getString(expect.fieldIndex("destination_country"))}""""))
      assert(body.contains(
        s""""predicted_status":"${expect.getString(expect.fieldIndex("delivery_status"))}""""))
      assert(body.contains("\"predicted_on\":\"2024-06-01\""))

      val (st2, body2) = get(server, "/predict/country/?country=NATION_7")
      assert(st2 === 200, body2)
      val c = ServeQueries.countryExpectation(silver, "NATION_7", "2024-06-01").collect().head
      assert(body2.contains("\"country\":\"NATION_7\""))
      assert(body2.contains(s""""n_shipments":${c.getLong(c.fieldIndex("n_shipments"))}"""))
      assert(body2.contains(
        s""""average_delivery_days":${c.getDouble(c.fieldIndex("avg_delivery_days"))}"""))
      assert(body2.contains(
        s""""expected_delivery_date":"${c.getDate(c.fieldIndex("expected_delivery_date"))}""""))

      // both requests landed in the typed prediction log
      val log = PredictionLog.read(spark, logDir)
      assert(log.count() === 2)
      assert(log.select("route").distinct().count() === 2)
    } finally server.stop(0)
  }

  test("unknown keys and missing params answer with JSON errors, not 500s") {
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      val (st, body) = get(server, "/predict/tracking/?tracking_id=NOPE")
      assert(st === 404 && body.contains("error"), s"$st $body")
      val (st2, body2) = get(server, "/predict/tracking/")
      assert(st2 === 400 && body2.contains("tracking_id"), s"$st2 $body2")
      val (st3, body3) = get(server, "/predict/country/?country=ATLANTIS")
      assert(st3 === 404 && body3.contains("error"), s"$st3 $body3")
      val (st4, _) = get(server, "/")
      assert(st4 === 200)
    } finally server.stop(0)
  }

  test("malformed percent-escapes in the query string answer 400, not 500") {
    // java.net.URI (and so HttpClient) refuses to build these requests,
    // so they go out over a raw socket
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try for (q <- Seq("/predict/country/?country=%ZZ", "/predict/country/?country=NATION_7%")) {
      val so = new java.net.Socket("127.0.0.1", server.getAddress.getPort)
      try {
        so.getOutputStream.write(
          s"GET $q HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n".getBytes("US-ASCII"))
        val status = new java.io.BufferedReader(
          new java.io.InputStreamReader(so.getInputStream, "US-ASCII")).readLine()
        assert(status != null && status.startsWith("HTTP/1.1 400"), s"$q: $status")
      } finally so.close()
    }
    finally server.stop(0)
  }

  test("a stopped server leaves no non-daemon serve thread behind") {
    import scala.jdk.CollectionConverters._
    def serveThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-serve-"))
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try assert(get(server, "/")._1 === 200)
    finally server.stop(0)
    assert(serveThreads.nonEmpty, "requests must run on the named serve pool")
    assert(serveThreads.forall(_.isDaemon),
      s"non-daemon serve threads: ${serveThreads.filterNot(_.isDaemon).map(_.getName)}")
  }

  test("model-backed tracking prediction serves the fitted pipeline's output") {
    import graft.ml.DeliveryModel
    val result = DeliveryModel.train(DeliveryModel.features(silver))
    val server = ServeApi.start(silver, model = Some(result.model),
      ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      val (st, body) = get(server, "/predict/tracking/?tracking_id=TN100")
      assert(st === 200, body)
      // the served prediction equals batch inference on the same row
      val batch = DeliveryModel.predict(result.model,
        DeliveryModel.features(silver.filter(silver("tracking_number") === "TN100")))
        .select("predicted_status").collect().head.getString(0)
      assert(body.contains(s""""predicted_status":"$batch""""), body)
    } finally server.stop(0)
  }

  test("concurrent requests all answer and all land in the prediction log") {
    val logDir = tempDir("graft_serve_cc_").toString + "/log"
    val server = ServeApi.start(silver, model = None,
      ServeApi.Config(asOfDate = "2024-06-01", logDir = Some(logDir)))
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val paths = (0 until 8).map { i =>
        if (i % 2 == 0) s"/predict/tracking/?tracking_id=TN10$i"
        else "/predict/country/?country=NATION_7"
      }
      val codes = Await.result(
        Future.sequence(paths.map(p => Future(get(server, p)._1))), 120.seconds)
      assert(codes.forall(_ == 200), s"statuses: $codes")
      // every request logged — each append its own file, none clobbered
      assert(PredictionLog.read(spark, logDir).count() === 8)
    } finally server.stop(0)
  }

  test("sequential keep-alive requests answer without a Nagle stall") {
    // the server sends headers and body as two writes: with Nagle on, the
    // body waits for the client's delayed ACK, a 40 ms floor on Linux
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      val ms = (0 until 21).map { _ =>
        val t0 = System.nanoTime()
        assert(get(server, "/health")._1 === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median ${ms(10)} ms of ${ms.map(m => f"$m%.1f")}")
    } finally server.stop(0)
  }

  test("ui route serves the HTML frontend over the live country route") {
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}/ui")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/html"), resp.headers().toString)
      // the page must call the real serving route (relative URL, same host)
      assert(resp.body().contains("/predict/country/"), resp.body().take(200))
      assert(resp.body().toLowerCase.contains("<!doctype html"))
    } finally server.stop(0)
  }

  test("country with shipments but no recorded delivery days answers 422, not 500") {
    import spark.implicits._
    // two in-transit shipments: n_shipments > 0 but sum/avg(delivery_days)
    // is null — the data gap must surface as a JSON error, not an NPE→500
    val gappy = Seq(
      ("TN_A", "NULLYLAND", Option.empty[Int]),
      ("TN_B", "NULLYLAND", Option.empty[Int]))
      .toDF("tracking_number", "destination_country", "delivery_days")
    val server = ServeApi.start(gappy, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      val (st, body) = get(server, "/predict/country/?country=NULLYLAND")
      assert(st === 422, s"$st $body")
      assert(body.contains("error") && body.contains("NULLYLAND"), body)
    } finally server.stop(0)
  }

  test("json writer escapes control and quote characters") {
    val s = ServeApi.jsonObj(Seq("k" -> "a\"b\\c\nd"))
    assert(s === """{"k":"a\"b\\c\nd"}""".replace("\n", "\\n"))
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  /** GETs every path from both servers, four requests at a time, and
    * returns the paths whose status or body differ. */
  private def differences(a: com.sun.net.httpserver.HttpServer,
      b: com.sun.net.httpserver.HttpServer, paths: Seq[String]): Seq[String] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(paths)(p => Future {
        val (x, y) = (get(a, p), get(b, p))
        if (x == y) None else Some(s"$p: $x vs $y")
      }), 20.minutes).flatten
    } finally pool.shutdown()
  }

  private lazy val fitted = graft.ml.DeliveryModel.train(graft.ml.DeliveryModel.features(silver)).model

  test("indexed answers equal the per-request Spark path, byte for byte, on every key") {
    import spark.implicits._
    val cfg = ServeApi.Config(asOfDate = "2024-06-01")
    val indexed = ServeApi.start(silver, Some(fitted), cfg)
    val direct = ServeApi.start(silver, Some(fitted), cfg, 0, indexBound = 0)
    try {
      val ids = silver.select("tracking_number").distinct().as[String].collect().sorted.toSeq
      val countries = silver.select("destination_country").distinct().as[String].collect().sorted.toSeq
      val paths =
        ids.map(id => s"/predict/tracking/?tracking_id=${enc(id)}") ++
          (countries ++ Seq(countries.head.toLowerCase, "ATLANTIS", "straße", "Ωmega"))
            .map(c => s"/predict/country/?country=${enc(c)}") :+
          "/predict/tracking/?tracking_id=NOPE"
      assert(ids.size > 1000 && countries.size > 10, s"${ids.size} ids, ${countries.size} countries")
      val diffs = differences(indexed, direct, paths)
      assert(diffs.isEmpty, s"${diffs.size} of ${paths.size} differ, e.g. ${diffs.take(3)}")
      assert(get(indexed, s"/predict/country/?country=${enc(countries.head.toLowerCase)}")._1 === 200)
      // the default server answered from its indexes, the bound-0 one never built any
      val (_, health) = get(indexed, "/health")
      assert(health.contains(s""""tracking":{"indexed":${ids.size}}""") &&
        health.contains(s""""country":{"indexed":${countries.size}}"""), health)
      val (_, health0) = get(direct, "/health")
      assert(health0.contains(""""tracking":"spark"""") && health0.contains(""""country":"spark""""), health0)
    } finally { indexed.stop(0); direct.stop(0) }
  }

  test("a shipment without a delivery_status label answers UNKNOWN on both paths, a country without delivery days 422") {
    import spark.implicits._
    val day = java.sql.Date.valueOf("2024-01-02")
    // TN_N has no label (so no prediction row) and no delivery days (so
    // JAPAN has shipments but no average)
    val frame = Seq(
      ("TN_L", "COURIER_A", "DELIVERED", "ASIA", "CHINA", 1.5, Option(3), Option("SUCCESS"), "CITY_1", "EVT-NF", day),
      ("TN_N", "COURIER_A", "PENDING", "ASIA", "JAPAN", 2.5, None, Option.empty[String], "CITY_2", "EVT-RF", day))
      .toDF("tracking_number", "courier", "status", "origin_country", "destination_country",
        "shipment_weight", "delivery_days", "delivery_status", "checkpoint_city",
        "checkpoint_message", "checkpoint_time")
    for (model <- Seq(None, Some(fitted))) {
      val cfg = ServeApi.Config(asOfDate = "2024-06-01")
      val indexed = ServeApi.start(frame, model, cfg)
      val direct = ServeApi.start(frame, model, cfg, 0, indexBound = 0)
      try {
        val paths = Seq("TN_L", "TN_N", "TN_X").map(id => s"/predict/tracking/?tracking_id=$id") ++
          Seq("CHINA", "japan", "NOWHERE").map(c => s"/predict/country/?country=$c")
        assert(differences(indexed, direct, paths).isEmpty)
        val (st, body) = get(indexed, "/predict/tracking/?tracking_id=TN_N")
        assert(st === 200 && body.contains(""""predicted_status":"UNKNOWN""""), s"$model: $body")
        assert(get(indexed, "/predict/country/?country=japan")._1 === 422)
      } finally { indexed.stop(0); direct.stop(0) }
    }
  }

  test("/metrics counts each read route's answers by status with a latency histogram") {
    val server = ServeApi.start(silver, model = None, ServeApi.Config(asOfDate = "2024-06-01"))
    try {
      // start builds both indexes before it returns: the first request
      // on either route waits on no build
      val (h0, health) = get(server, "/health")
      assert(h0 === 200 && health.contains(""""status":"ok"""") &&
        health.contains(""""tracking":{"indexed":""") &&
        health.contains(""""country":{"indexed":"""), health)
      Seq("TN100", "TN101", "NOPE").foreach(id => get(server, s"/predict/tracking/?tracking_id=$id"))

      val (st, metrics) = get(server, "/metrics")
      assert(st === 200, metrics)
      val tracking = metrics.substring(0, metrics.indexOf(""""country":"""))
      assert(tracking.contains(""""tracking":{"status":{"200":2,"404":1}"""), metrics)
      val counts = """"counts":\[([0-9,]+)\]""".r.findFirstMatchIn(tracking).get.group(1)
        .split(',').map(_.toLong)
      assert(counts.sum === 3, metrics)
      assert(metrics.contains(""""country":{"status":{}"""), metrics)
      assert(get(server, "/")._2.contains("/health, /metrics"))
      assert(get(server, "/healthz")._1 === 404)
    } finally server.stop(0)
  }

  test("prebuild builds both indexes before the server answers a request") {
    val server = ServeApi.start(silver, None, ServeApi.Config(asOfDate = "2024-06-01"),
      0, ServeIndex.DefaultBound)
    try {
      val (st, health) = get(server, "/health")
      assert(st === 200 && health.contains(""""tracking":{"indexed":""") &&
        health.contains(""""country":{"indexed":"""), health)
    } finally server.stop(0)
  }

  test("a failed index build is not retried: the per-key query answers and /health says why") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val index = new ServeIndex[String](10,
      _ => { builds.incrementAndGet(); throw new IllegalStateException("result too large") },
      key => Some(s"queried $key"), identity)
    assert(index.lookup("a") === Some("queried a"))
    assert(index.lookup("b") === Some("queried b"))
    assert(builds.get() === 1)
    assert(ServeApi.jsonObj(Seq("tracking" -> index.state)) ===
      """{"tracking":{"failed":"java.lang.IllegalStateException: result too large"}}""")
  }
}
