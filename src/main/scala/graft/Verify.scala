package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q01_x,t09_y limits the run (dev iteration aid,
    // same contract as Bench's); the driver sets no filter and gets all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // after the write: the result reads the query's scratch dirs
      finally graft.util.CacheRegistry.releaseQuery(spark)
    }
    // jsonObj escapes quotes, backslashes and ALL control chars: a tab
    // or CR in the SQL would otherwise break the compare's json.load
    val json = graft.serve.ServeApi.jsonObj(SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
