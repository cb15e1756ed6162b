package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.QueryRunner

/** Dev-only probe (not part of the engine surface): runs each selected
  * declared query once with the noop sink, writes the
  * `.explain("formatted")` output of its frame to
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after evidence files
  * the optimization rounds commit alongside OPTIMIZATION_r*.md — and
  * prints its Spark JOB count and wall time, plan dump included (the
  * action-count evidence a plan dump cannot show, e.g.
  * `plans/r19/jobcount_lazy_ckpt.txt`).
  *
  * Env: SPARK_GRAFT_PLAN_TAG (required), SPARK_GRAFT_SF_DIR (default
  * sf0.1), SPARK_GRAFT_ONLY (comma list of query names, the same
  * selection Bench and Verify read; unset runs all of them, the job
  * census), SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_PLAN_SUFFIX
  * ("before"/"after", default "before").
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
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG",
      throw new IllegalArgumentException("SPARK_GRAFT_PLAN_TAG must name the plans/ subdir"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = QueryRunner.selected()
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val (rec, jobs) = graft.util.Jobs.count(spark) {
        QueryRunner.run(spark, n, dir) { df =>
          QueryRunner.noop(df)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"), plan.getBytes("UTF-8"))
          println(s"[plandump] wrote plans/$tag/${n}_$suffix.txt (${plan.length} chars)")
        }
      }
      println(f"[plandump] $n jobs=$jobs time=${rec.elapsed}%.2f s")
    }
    spark.stop()
  }
}
