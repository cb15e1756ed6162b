package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only probe (not part of the engine surface): runs each named
  * declared query once with the noop sink, prints its Spark JOB count
  * and wall time (the action-count evidence a plan dump cannot show,
  * e.g. `plans/r19/jobcount_lazy_ckpt.txt`), and writes the
  * `.explain("formatted")` output of its frame to
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after evidence files
  * the optimization rounds commit alongside OPTIMIZATION_r*.md.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_ONLY (comma list
  * of query names, required — the same filter Bench and Verify read),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PLAN_TAG (default "r18"),
  * SPARK_GRAFT_PLAN_SUFFIX ("before"/"after", default "before").
  *
  * Queries that RUN work inside their builder (streaming sinks, the
  * pipeline runners) execute it as part of the timed run, and their
  * dump is of the returned frame, which for those is the read-back;
  * that is still the plan the bench times for its final action and the
  * honest artifact for them. The first query pays JVM warm-up.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r18")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",").map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "SPARK_GRAFT_ONLY must name at least one declared query")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
      val ((df, sec), jobs) = graft.util.Jobs.count(spark) {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[plandump] $n jobs=$jobs time=$sec%.2f s")
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote plans/$tag/${n}_$suffix.txt (${plan.length} chars)")
      graft.util.CacheRegistry.releaseQuery(spark)
    }
    spark.stop()
  }
}
