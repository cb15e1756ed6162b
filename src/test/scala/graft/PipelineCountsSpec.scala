package graft

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.gen.BronzeGenerator
import graft.io.{LayerIO, VersionedTable}
import graft.model.Schemas
import graft.silver.SilverTransform
import graft.util.Jobs

/** `Pipeline.run` counts each stage's rows in the write that produces
  * them: the counts equal what a reader finds, an empty bronze still
  * stops the load before silver is touched, and a load runs no read-back
  * job. */
class PipelineCountsSpec extends SparkTestBase {

  private val Date = "2024-01-01"
  private val NoRetry = Pipeline.RetryPolicy(maxRetries = 0)

  /** The rows a reader finds at each stage's output. */
  private def readBack(root: String, r: Pipeline.StageResult): Long = r.stage match {
    case "bronze" => spark.read.text(r.path).count() // one JSON record per line
    case "silver" => Pipeline.readSilver(spark, root, Date).count()
    case "quarantine" => VersionedTable.read(spark, r.path).count()
    case gold => Pipeline.readGold(spark, root, Date, gold.stripPrefix("gold/")).count()
  }

  private def assertCountsMatch(root: String, results: Seq[Pipeline.StageResult]): Unit =
    results.foreach(r => assert(r.rows === readBack(root, r), s"stage ${r.stage}"))

  /** Generated bronze with three broken shipments: a zero weight, an
    * empty tracking number and `updated_at` before `created_at`. */
  private def brokenBronze(n: Long): DataFrame = {
    def tn(i: Int) = col("tracking_number") === f"TN$i%010d"
    BronzeGenerator.shipments(spark, n, 7L, Date)
      .withColumn("shipment_weight_kg", when(tn(0), lit(0.0)).otherwise(col("shipment_weight_kg")))
      .withColumn("updated_at", when(tn(2), lit("2023-12-31 00:00:00")).otherwise(col("updated_at")))
      .withColumn("tracking_number", when(tn(1), lit("")).otherwise(col("tracking_number")))
  }

  test("write-counted rows equal read-back counts: clean load, quarantine load, re-load") {
    val clean = tempDir("graft_counts_clean_").toString
    val cleanResults = Pipeline.run(spark, clean, Date, nShipments = 300L)
    assert(cleanResults.find(_.stage == "bronze").get.rows === 300L)
    assertCountsMatch(clean, cleanResults)

    val root = tempDir("graft_counts_quar_").toString
    def load() = Pipeline.run(spark, root, Date, quarantine = true,
      bronzeSource = Some(brokenBronze(300L)))
    val first = load()
    assertCountsMatch(root, first)
    val rows = first.map(r => r.stage -> r.rows).toMap
    assert(rows("bronze") === 300L)
    assert(rows("quarantine") > 0L)
    val transformed = SilverTransform.transform(
      spark.read.schema(Schemas.bronzeShipment).json(s"$root/bronze/shipments/$Date"),
      Date, java.sql.Timestamp.valueOf(s"$Date 00:00:00")).count()
    assert(rows("silver") + rows("quarantine") === transformed)
    assert(VersionedTable.read(spark, s"$root/quarantine/silver/$Date")
      .select("shipment_id").distinct().count() === 3L, "exactly the three broken shipments")

    val again = load()
    assertCountsMatch(root, again)
    assert(again.map(r => r.stage -> r.rows) === first.map(r => r.stage -> r.rows))
  }

  test("an empty bronze fails with `bronze empty` before silver is written") {
    val root = tempDir("graft_counts_empty_").toString
    Pipeline.run(spark, root, Date, nShipments = 200L, retry = NoRetry)
    def silverRows() = Pipeline.readSilver(spark, root, Date).count()
    val loaded = silverRows()
    assert(loaded > 0L)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.bronzeShipment)
    Seq[() => Seq[Pipeline.StageResult]](
      () => Pipeline.run(spark, root, Date, retry = NoRetry, bronzeSource = Some(empty)),
      () => Pipeline.run(spark, root, Date, nShipments = 0L, retry = NoRetry)
    ).foreach { emptyLoad =>
      val e = intercept[IllegalArgumentException](emptyLoad())
      assert(e.getMessage.contains("bronze empty"), e.getMessage)
      assert(silverRows() === loaded, "the date's silver partition must survive")
    }
  }

  test("a quarantine load runs 17 Spark jobs: no job reads a count back") {
    val root = tempDir("graft_counts_jobs_").toString
    val (_, jobs) = Jobs.count(spark)(Pipeline.run(spark, root, Date, nShipments = 200L, quarantine = true))
    assert(jobs === 17)
  }

  test("a counted write whose count never arrives fails within its bound") {
    val e = intercept[IllegalStateException](
      LayerIO.countedWrite(spark.range(3).toDF(), 200.millis)(_ => ()))
    assert(e.getMessage.contains("row count not delivered"))
  }

  test("every stage reports its wall time; PipelineMain prints one JSON object per stage") {
    val root = tempDir("graft_counts_wall_").toString
    val results = Pipeline.run(spark, root, Date, nShipments = 200L, quarantine = true)
    assert(results.forall(_.wallS > 0.0), results.mkString(", "))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    results.foreach { r =>
      val n = json.readTree(PipelineMain.stageJson(r))
      assert(n.size() === 4)
      assert(n.get("stage").asText === r.stage && n.get("rows").asLong === r.rows &&
        n.get("path").asText === r.path && n.get("wall_s").asDouble === r.wallS)
    }
  }
}
