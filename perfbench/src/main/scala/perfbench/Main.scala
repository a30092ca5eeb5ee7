package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; run through `perfbench/run.py`, which
  * builds the engine and this package, launches this main, checks batch
  * results against the DuckDB oracle and prints the result line.
  *
  * Arguments: --workload serve|ingest_compact|batch --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --sf DIR [--tiny] [--wrong-expected]
  *
  * Writes one JSON object to --out: operation counts, end-to-end and
  * named figures, per-layer figures (traced runs), the run's conditions,
  * and the batch outputs to check. Traced runs also write their spans
  * next to it.
  */
object Main {

  val workloads = Seq("serve", "ingest_compact", "batch")

  def parse(argv: Array[String]): Args = {
    val flags = Set("--tiny", "--wrong-expected")
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") && !flags(k) => k -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(
      workload = need("--workload"), seed = need("--seed").toLong,
      seconds = need("--seconds").toInt, trace = need("--trace") == "1",
      tiny = argv.contains("--tiny"), workDir = need("--work"), sfDir = need("--sf"),
      out = need("--out"), wrongExpected = argv.contains("--wrong-expected"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** Wall time of a fixed single-threaded integer loop: compared across
    * runs, it marks a run made while the machine itself ran slow, which
    * the foreign-CPU share of this guest does not show.
    */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 100000000L) { x += i ^ (x >>> 3); i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) println(x) // keeps the loop from being optimized away
    ms
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val origin = System.nanoTime()
    // sampled before the session exists, so only other processes count
    val foreign = graft.Bench.foreignCpuShare(250)
    val probeMs = cpuProbeMs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - origin) / 1e9
    val tracer = new Tracer
    val ctx = new Ctx(spark, args, tracer)
    val report = new Report
    try {
      args.workload match {
        case "serve" => Serve.run(ctx, report)
        case "ingest_compact" => IngestCompact.run(ctx, report)
        case "batch" => Batch.run(ctx, report)
      }
      val rss = Metric(Files.peakRssMb(), "MB")
      report.endToEnd("peak_rss_mb") = rss
      report.named("setup_s") = report.endToEnd("setup_s")
      report.named("peak_rss_mb") = rss
      val c = report.conditions
      c("nproc") = nproc.toString
      c("master") = master
      c("xmx_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
      c("seed") = args.seed.toString
      c("foreign_cpu_share") = foreign.toString
      c("cpu_probe_ms") = probeMs.toString
      c("session_start_s") = sessionS.toString
      c("size") = if (args.tiny) "tiny" else "full"
      if (args.trace)
        tracer.write(s"${new java.io.File(args.out).getParent}/trace-spans.json", origin)
      val out = Json.obj(
        "attempted" -> ctx.attempted.get.toString,
        "failed" -> ctx.failed.get.toString,
        "failures" -> ctx.failureMessages.map(Json.str).mkString("[", ",", "]"),
        "end_to_end" -> Json.metrics(report.endToEnd),
        "named" -> Json.metrics(report.named),
        "layers" -> (if (args.trace) Json.metrics(Layers.complete(report.layers)) else "{}"),
        "conditions" -> report.conditions.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}"),
        "oracle_checks" -> report.oracleChecks.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), out + "\n")
    } finally {
      ctx.shutdown()
      spark.stop()
    }
  }
}
