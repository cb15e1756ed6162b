package graftbench

/** One benchmark run in one JVM:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --out <dir> --src <dir>
  * }}}
  *
  * Prints one `graftbench-report {...}` line with every figure the run
  * measured, the per-op series and any failed check, then exits. `--work`
  * is scratch space the caller removes; `--out` receives the span log of a
  * traced run; `--src` is the engine's source root (`src/main/scala`).
  */
object Main {
  val Workloads: Seq[Workload] = Seq(MedallionWeek, ServeMixed)

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    val trace = opt("trace") == "1"
    val work = java.nio.file.Paths.get(opt("work"))
    val out = java.nio.file.Paths.get(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    var status = 1
    try {
      val spark = graft.GraftSession.local(cores)
      try {
        val counters = if (trace) Some(SparkCounters.attach(spark)) else None
        val tracer = new Tracer(trace)
        val o = workload.run(Ctx(spark, work, opt("seed").toLong, opt("seconds").toInt,
          tracer, counters, startNs, java.nio.file.Paths.get(opt("src"))))
        counters.foreach(_.unregister())
        if (trace) {
          java.nio.file.Files.createDirectories(out)
          tracer.writeJsonl(out.resolve(s"${workload.name}-seed${opt("seed")}-spans.jsonl"))
        }
        println("graftbench-report " + Json.obj(
          "workload" -> workload.name, "seed" -> opt("seed").toLong, "traced" -> trace,
          "cores" -> cores, "attempted" -> o.attempted, "failed" -> o.failed,
          "problems" -> o.problems.take(20),
          "metrics" -> (o.endToEnd ++ o.layers).toSeq.sortBy(_._1).toMap,
          "self_s" -> tracer.selfTimes.toSeq.sortBy(_._1).toMap,
          "series" -> o.series))
        status = 0
      } finally spark.stop()
    } catch {
      case t: Throwable =>
        System.err.println(s"[graftbench] ${workload.name} failed: $t")
        t.printStackTrace()
    }
    System.out.flush()
    // explicit exit: ServeApi.start gives its HttpServer a non-daemon fixed
    // thread pool that HttpServer.stop never shuts down, so the JVM would
    // otherwise stay up idle after the run
    System.exit(status)
  }
}
