package graft

import graft.serve.PredictionLog

class PredictionLogSpec extends SparkTestBase {
  import spark.implicits._

  test("append-mode log accumulates across writers without clobbering") {
    val dir = tempDir("graft_log_").toString + "/log"
    val r1 = Seq(("TN1", "SUCCESS", "2024-01-01")).toDF("tracking_number", "prediction", "log_date")
    val r2 = Seq(("TN2", "PENDING", "2024-01-01"),
      ("TN3", "SUCCESS", "2024-01-02")).toDF("tracking_number", "prediction", "log_date")
    PredictionLog.append(r1, dir)
    PredictionLog.append(r2, dir)
    val back = PredictionLog.read(spark, dir)
    assert(back.count() === 3)
    // partition pruning works on the log_date layout
    val pruned = back.filter($"log_date" === "2024-01-02")
    assert(pruned.count() === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("log_date"),
      s"log_date must be a partition filter:\n$plan")
  }

  private val serveColumns = Seq("route", "lookup_key", "prediction", "log_date")

  test("an append of a local frame runs no Spark job and reads back as Spark's own write did") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_log_").toString + "/log"
    val rows = Seq[(String, String, String, String)](
      ("tracking", "TN1", "SUCCESS", "2024-06-01"), ("country", "NATION_7", null, "2024-06-01"))
    val (_, jobs) = graft.util.Jobs.count(spark)(
      PredictionLog.append(rows.toDF(serveColumns: _*), dir))
    assert(jobs === 0)
    // the schema a Spark `partitionBy("log_date").parquet` write of the
    // serve log's four string columns reads back as: log_date is a
    // partition column, its type inferred from the dir names
    val back = PredictionLog.read(spark, dir)
    assert(back.schema === StructType(Seq(
      StructField("route", StringType), StructField("lookup_key", StringType),
      StructField("prediction", StringType), StructField("log_date", DateType))))
    assert(back.selectExpr("route", "lookup_key", "prediction", "string(log_date)")
      .as[(String, String, String, String)].collect().toSet === rows.toSet)
  }

  test("a non-string column is refused with the offending schema") {
    val e = intercept[IllegalArgumentException](PredictionLog.append(
      Seq(("TN1", 3, "2024-06-01")).toDF("lookup_key", "days", "log_date"),
      tempDir("graft_log_").toString + "/log"))
    assert(e.getMessage.contains("must be strings") && e.getMessage.contains("days:int"), e.getMessage)
  }

  test("concurrent appends all land, and a concurrent reader never fails or goes back") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
    import java.util.concurrent.atomic.AtomicBoolean
    val dir = tempDir("graft_log_cc_").toString + "/log"
    val (writers, perWriter) = (4, 10)
    val expected = for (w <- 0 until writers; i <- 0 until perWriter)
      yield ("tracking", s"TN$w-$i", s"P$i", s"2024-06-0${1 + i % 2}")
    val firstCommit = new CountDownLatch(1)
    val done = new AtomicBoolean(false)
    val counts = new ConcurrentLinkedQueue[Long]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit) = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    val reader = thread {
      firstCommit.await()
      while (!done.get) counts.add(PredictionLog.read(spark, dir).count())
    }
    val threads = expected.grouped(perWriter).toSeq.map(rows => thread(rows.foreach { r =>
      PredictionLog.append(Seq(r).toDF(serveColumns: _*), dir)
      firstCommit.countDown()
    }))
    threads.foreach(_.join())
    firstCommit.countDown()
    done.set(true)
    reader.join()
    assert(errors.isEmpty, s"errors: ${errors.toArray.mkString("; ")}")
    val seen = counts.toArray.map(_.asInstanceOf[Long]).toSeq
    assert(seen.nonEmpty && seen.zip(seen.drop(1)).forall { case (a, b) => a <= b }, s"reader counts: $seen")
    val back = PredictionLog.read(spark, dir)
      .selectExpr("route", "lookup_key", "prediction", "string(log_date)")
      .as[(String, String, String, String)].collect().toSeq
    assert(back.sorted === expected.sorted)
  }

  test("an append that died mid-write leaves a hidden file that read ignores and the next append survives") {
    val dir = tempDir("graft_log_crash_").toString + "/log"
    PredictionLog.append(Seq(("tracking", "TN1", "SUCCESS", "2024-06-01")).toDF(serveColumns: _*), dir)
    // the crash state: a truncated file under its hidden in-flight name
    val part = java.nio.file.Path.of(dir, "log_date=2024-06-01")
    val committed = scala.util.Using.resource(java.nio.file.Files.list(part))(
      _.filter(_.getFileName.toString.startsWith("part-")).findFirst().get())
    val bytes = java.nio.file.Files.readAllBytes(committed)
    java.nio.file.Files.write(part.resolve(s".${java.util.UUID.randomUUID()}.tmp"),
      bytes.take(bytes.length / 2))
    assert(PredictionLog.read(spark, dir).count() === 1)
    PredictionLog.append(Seq(("country", "NATION_7", "4.5", "2024-06-01")).toDF(serveColumns: _*), dir)
    assert(PredictionLog.read(spark, dir).select("lookup_key").as[String].collect().sorted.toSeq ===
      Seq("NATION_7", "TN1"))
  }

  test("JDBC export round-trips through an embedded warehouse with typed columns") {
    // embedded Derby ships with the Spark classpath — the same
    // df.write.jdbc path a real warehouse URL takes (S7), minus the network
    val url = "jdbc:derby:memory:graftwh;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val rows = Seq(("TN1", "SUCCESS", 3, 12.5), ("TN2", "PENDING", 7, 0.8))
    val df = rows.toDF("tracking_number", "prediction", "delivery_days", "weight")
    PredictionLog.exportJdbc(df, url, "predictions", props)
    val back = spark.read.jdbc(url, "predictions", props)
    // typed DDL from the schema: numerics stay numeric (the reference's
    // warehouse load degrades every column to STRING)
    assert(back.schema("delivery_days").dataType === org.apache.spark.sql.types.IntegerType)
    assert(back.schema("weight").dataType === org.apache.spark.sql.types.DoubleType)
    assert(back.select("tracking_number", "prediction", "delivery_days", "weight")
      .as[(String, String, Int, Double)].collect().toSet === rows.toSet)
    // append mode accumulates instead of clobbering
    PredictionLog.exportJdbc(
      Seq(("TN3", "SUCCESS", 1, 5.0)).toDF("tracking_number", "prediction", "delivery_days", "weight"),
      url, "predictions", props)
    assert(spark.read.jdbc(url, "predictions", props).count() === 3)
  }

  test("latestRun resolves the newest dated directory") {
    val root = tempDir("graft_models_").toString
    Seq("2024-01-01", "2024-03-05", "2024-02-11").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(s"$root/$d"))
    }
    assert(PredictionLog.latestRun(spark, root) === Some("2024-03-05"))
    assert(PredictionLog.latestRun(spark, root + "/missing") === None)
  }
}
