package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.model.CorpusAdapter
import graft.serve.{PredictionLog, ServeApi, ServeQueries}

/** End-to-end HTTP serving (`API/pastapi.py:168-219`): real server on an
  * ephemeral port, real requests, responses checked against the same
  * queries the p03/p04 oracles verify. */
class ServeApiSpec extends SparkTestBase {

  private lazy val silver = CorpusAdapter
    .silverFlat(spark, sf0001, "2024-01-01",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    .cache()

  private def get(server: com.sun.net.httpserver.HttpServer, pathAndQuery: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("tracking and country routes answer with the oracle-checked query results") {
    val logDir = java.nio.file.Files.createTempDirectory("graft_serve_log_").toString + "/log"
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
    val logDir = java.nio.file.Files.createTempDirectory("graft_serve_cc_").toString + "/log"
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
      // every request logged — concurrent appends serialized, none clobbered
      assert(PredictionLog.read(spark, logDir).count() === 8)
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
}
