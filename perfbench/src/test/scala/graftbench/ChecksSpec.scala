package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Pipeline.StageResult
import graft.ml.DeliveryModel
import graft.serve.ServeQueries

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = graft.GraftSession.local(2)
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("the job counter sees exactly the jobs, stages and tasks of a known two-job plan") {
    val counters = SparkCounters.attach(spark)
    try {
      counters.drain()
      val sc = spark.sparkContext
      SparkCounters.tagged(spark, "op-1") {
        sc.parallelize(1 to 100, 4).count()
        sc.parallelize(1 to 100, 3).map(_ * 2).collect()
      }
      val c = counters.drain()
      val op = c.forOp("op-1").sparkTotals
      assert(op("spark.jobs") == 2.0)
      assert(op("spark.stages") == 2.0)
      assert(op("spark.tasks") == 7.0)
      assert(c.jobs.forall(j => j.endMs >= j.startMs))
      // the drain's sentinel job is not counted, and a second drain is empty
      assert(c.jobs.size == 2)
      assert(counters.drain().jobs.isEmpty)
    } finally counters.unregister()
  }

  test("the plan walk counts exchanges of an executed query") {
    val counters = SparkCounters.attach(spark)
    try {
      counters.drain()
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      val plan = counters.drain().plan
      assert(plan("plan.executions") == 1L)
      assert(plan("plan.exchanges") >= 1L)
      assert(plan("plan.scan_rows") == 0L)
    } finally counters.unregister()
  }

  test("a load's jobs split into the Pipeline.run stages their call sites name") {
    val source = IndexedSeq("object Pipeline {",
      "  val a = retryStage(\"bronze\", retry, hooks) {",
      "  val b = retryStage(\"silver\", retry, hooks) {",
      "  val c = retryStage(\"gold\", retry, hooks) {")
    def site(line: Int) = "count at Pipeline.scala:99\n" +
      "graft.Pipeline$.$anonfun$run$1(Pipeline.scala:99)\n" +
      "graft.Pipeline$.retryStage(Pipeline.scala:60)\n" +
      s"graft.Pipeline$$.run(Pipeline.scala:$line)\n" +
      "graftbench.MedallionWeek$.load(MedallionWeek.scala:50)"
    assert(MedallionWeek.stageOf(source, site(2)).contains("bronze"))
    assert(MedallionWeek.stageOf(source, site(3)).contains("silver"))
    assert(MedallionWeek.stageOf(source, site(4)).contains("gold"))
    // a job of the gold fan-out's pool has Pipeline frames but no run frame
    assert(MedallionWeek.stageOf(source, "parquet at VersionedTable.scala:66\n" +
      "graft.io.VersionedTable$.write(VersionedTable.scala:66)\n" +
      "graft.Pipeline$.$anonfun$run$9(Pipeline.scala:230)\n" +
      "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)").contains("gold"))
    assert(MedallionWeek.stageOf(source, site(1)).isEmpty)
    assert(MedallionWeek.stageOf(source, "collect at Other.scala:1\ngraftbench.Other$.x(Other.scala:1)").isEmpty)

    import MedallionWeek.LoadJob
    val jobs = Seq(
      LoadJob(110, 150, Some("bronze"), None, write = false),
      LoadJob(160, 200, Some("silver"), None, write = false),
      LoadJob(205, 240, Some("silver"), None, write = false),
      LoadJob(250, 300, Some("gold"), Some("dim_date"), write = true),
      LoadJob(310, 320, Some("gold"), Some("dim_date"), write = false),
      LoadJob(255, 280, Some("gold"), Some("fact_shipment"), write = true))
    val spans = MedallionWeek.loadSpans(jobs, 100L, 330L)
    assert(spans == Seq(
      ("gen.bronze", 100L, 150L, -1), ("silver.transform", 150L, 240L, -1),
      ("gold.fanout", 240L, 330L, -1),
      ("gold.dim_date", 250L, 320L, 2), ("io.versioned_write", 250L, 300L, 3), ("io.read", 310L, 320L, 3),
      ("gold.fact_shipment", 255L, 280L, 2), ("io.versioned_write", 255L, 280L, 6)))
    // the stage spans partition the load
    assert(spans.filter(_._4 < 0).map(s => s._3 - s._2).sum == 230L)
  }

  private val goodLoad = Seq(
    StageResult("bronze", MedallionWeek.Shipments, ""), StageResult("silver", 4000L, ""),
    StageResult("quarantine", 0L, ""),
    StageResult("gold/dim_courier", 10L, ""), StageResult("gold/dim_location", 600L, ""),
    StageResult("gold/dim_date", 1L, ""), StageResult("gold/dim_shipment_status", 7L, ""),
    StageResult("gold/fact_shipment", 4000L, ""), StageResult("gold/fact_tracking_event", 4000L, ""),
    StageResult("gold/fact_courier_metrics", 10L, ""))

  private def perturb(stage: String, rows: Long): Seq[StageResult] =
    goodLoad.map(r => if (r.stage == stage) r.copy(rows = rows) else r)

  test("the load check accepts the row-count identities and rejects each perturbation") {
    assert(MedallionWeek.checkLoad(goodLoad).isEmpty)
    assert(MedallionWeek.checkLoad(perturb("gold/fact_shipment", 3999L)).nonEmpty)
    assert(MedallionWeek.checkLoad(perturb("gold/fact_tracking_event", 4001L)).nonEmpty)
    assert(MedallionWeek.checkLoad(perturb("gold/dim_location", 599L)).nonEmpty)
    assert(MedallionWeek.checkLoad(perturb("gold/dim_shipment_status", 8L)).nonEmpty)
    assert(MedallionWeek.checkLoad(perturb("bronze", 1L)).nonEmpty)
    assert(MedallionWeek.checkLoad(goodLoad.filterNot(_.stage == "gold/dim_date")).nonEmpty)
  }

  test("the content hash ignores row order and sees a changed value") {
    val session = spark
    import session.implicits._
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val h = MedallionWeek.contentHash(df)
    assert(h._1 == 3L)
    assert(MedallionWeek.contentHash(df.orderBy(col("k").desc).repartition(3)) == h)
    assert(MedallionWeek.contentHash(df.withColumn("v",
      when(col("k") === "b", lit(5)).otherwise(col("v")))) != h)
  }

  test("the request schedule keeps its mix in every block of five") {
    val reqs = ServeMixed.requests(11L).take(200).toSeq
    reqs.grouped(ServeMixed.BlockSize).foreach { b =>
      assert(b.count(_.kind == "tracking") == 2)
      assert(b.count(_.kind == "country") == 2)
      assert(b.count(_.kind == "miss") == 1)
    }
    assert(ServeMixed.requests(11L).take(40).toSeq == ServeMixed.requests(11L).take(40).toSeq)
    assert(ServeMixed.requests(11L).take(40).toSeq != ServeMixed.requests(12L).take(40).toSeq)
  }

  test("the status check counts a wrong status, and only that, as a failed request") {
    // a stub that answers every route with `status`, or 404 for misses
    def stub(status: Int) = {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val q = ex.getRequestURI.toString
        val code = if (q.contains("=TX") || q.contains("=Z")) 404 else status
        val body = "{}".getBytes("UTF-8")
        ex.sendResponseHeaders(code, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.start()
      server
    }
    for ((status, wantFailed) <- Seq(200 -> 0, 500 -> 8)) {
      val server = stub(status)
      try {
        val tally = new Tally
        val answers = ServeMixed.drive(server.getAddress.getPort, 5L, 0L, 5, tally, 0L)
        assert(tally.attempted == 10)
        assert(tally.failed == wantFailed)
        assert(answers.size == 10 - wantFailed)
      } finally server.stop(0)
    }
  }

  test("the answer check accepts the server's answer and rejects a perturbed one") {
    val silver = ServeMixed.buildSilver(spark, 3L).filter(col("tracking_number") < "TN0000000300").cache()
    val model = DeliveryModel.train(DeliveryModel.features(silver)).model
    def answer(req: ServeMixed.Req, body: String) =
      ServeMixed.Answer(0, 1L, req, req.expect, body, 0L, 1L, 0L, 1L)

    val c = ServeQueries.countryExpectation(silver, "USA", ServeMixed.AsOfDate).collect().head
    val country = Json.obj("country" -> "USA",
      "n_shipments" -> c.getAs[Long]("n_shipments"),
      "average_delivery_days" -> c.getAs[Double]("avg_delivery_days"),
      "expected_delivery_date" -> c.getAs[java.sql.Date]("expected_delivery_date").toString)
    val req = ServeMixed.Country("USA")
    assert(ServeMixed.checkAnswer(silver, model, answer(req, country)).isEmpty)
    assert(ServeMixed.checkAnswer(silver, model,
      answer(req, country.replace(s"\"n_shipments\":${c.getAs[Long]("n_shipments")}", "\"n_shipments\":1"))).nonEmpty)

    val id = "TN0000000042"
    val t = ServeQueries.trackingLookup(silver, id).collect().head
    val predicted = DeliveryModel.predict(model,
      DeliveryModel.features(silver.filter(col("tracking_number") === id)))
      .select("predicted_status").collect().head.getString(0)
    def tracking(city: String) = Json.obj("tracking_id" -> id,
      "courier" -> t.getAs[String]("courier"), "origin" -> t.getAs[String]("origin_country"),
      "destination" -> t.getAs[String]("destination_country"),
      "last_checkpoint_city" -> city,
      "last_checkpoint_message" -> t.getAs[String]("last_checkpoint_message"),
      "predicted_status" -> predicted, "predicted_on" -> ServeMixed.AsOfDate)
    val treq = ServeMixed.Tracking(id)
    assert(ServeMixed.checkAnswer(silver, model,
      answer(treq, tracking(t.getAs[String]("last_checkpoint_city")))).isEmpty)
    assert(ServeMixed.checkAnswer(silver, model, answer(treq, tracking("Atlantis"))).nonEmpty)

    val miss = ServeMixed.Miss("/predict/country/?country=Z001")
    assert(ServeMixed.checkAnswer(silver, model, answer(miss, "{\"error\":\"No data\"}")).isEmpty)
    assert(ServeMixed.checkAnswer(silver, model, answer(miss, "{\"country\":\"Z001\"}")).nonEmpty)
    silver.unpersist()
  }
}
