package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q01_x,t09_y limits the run (dev iteration aid,
    // same contract as Bench's); the driver sets no filter and gets all.
    val names = QueryRunner.selected()
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      QueryRunner.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // jsonObj escapes quotes, backslashes and ALL control chars: a tab
    // or CR in the SQL would otherwise break the compare's json.load
    val json = graft.serve.ServeApi.jsonObj(SparkEntry.oracleSql
      .filter { case (name, _) => names.contains(name) }.toSeq)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
