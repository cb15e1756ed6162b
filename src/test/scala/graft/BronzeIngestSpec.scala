package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.TextFunctions

/** Corrupt-record-tolerant bronze ingestion: the reference try/excepts
  * whole files (one bad record silently drops the day); PERMISSIVE mode +
  * _corrupt_record keeps good rows and quarantines the bad ones
  * row-level — the ingestion-side counterpart of DataQuality. */
class BronzeIngestSpec extends SparkTestBase {
  import spark.implicits._

  test("malformed JSON lines quarantine as _corrupt_record, good rows survive") {
    val dir = tempDir("graft_corrupt_").toString
    Files.writeString(Path.of(s"$dir/day.json"),
      """{"id":"a","tracking_number":"TN1"}
        |this is not json at all
        |{"id":"b","tracking_number":"TN2"}
        |{"id":"c","tracking_number": BROKEN}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("tracking_number", StringType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache() // corrupt-record column requires a materialization boundary
    val good = df.filter($"_corrupt_record".isNull)
    val bad = df.filter($"_corrupt_record".isNotNull)
    assert(good.count() === 2)
    assert(good.select("id").as[String].collect().toSet === Set("a", "b"))
    assert(bad.count() === 2)
    assert(bad.select("_corrupt_record").as[String].collect()
      .exists(_.contains("not json")))
    df.unpersist()
  }

  test("redaction scrubs planted PII and leaves clean text untouched") {
    val df = Seq(
      "plain words only",
      "mail me at bob.smith@corp.io today",
      "call 555-0134-22 about order 123456")
      .toDF("text")
    val out = df.select(TextFunctions.redact(col("text"))).as[String].collect()
    assert(out(0) === "plain words only")
    assert(out(1) === "mail me at <EMAIL> today")
    assert(out(2) === "call <PHONE> about order <NUM>")
  }
}
