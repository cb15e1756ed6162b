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
