package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** `batch`: a warm pass over a fixed list of `SparkEntry.queries` on the
  * read-only sf0.1 test tables, then the list again query by query until
  * the run's seconds are spent. Set-up is a cold and a warm-up pass. Each measured
  * result is collected, written to parquet outside the timed window, and
  * checked against the DuckDB oracle by the runner script.
  */
object Batch {

  final case class Result(schema: StructType, rows: Array[Row], planMs: Double)

  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val sf = ctx.args.sfDir
    require(new java.io.File(s"$sf/lineitem.parquet").exists(),
      s"batch: no test tables under $sf")
    val names = if (ctx.args.tiny) Layers.batchQueries.take(4) else Layers.batchQueries
    val defs = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val missing = names.filterNot(n => defs.contains(n) && oracle.contains(n))
    require(missing.isEmpty, s"batch: no query or oracle for ${missing.mkString(", ")}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.args.workDir}/oracle_sql.json"),
      names.map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}"))

    def query(name: String): Option[Timed[Result]] = ctx.op(name) {
      val df: DataFrame = ctx.tracer.span("queries.plan")(defs(name)(spark, sf))
      df.queryExecution.executedPlan
      val rows = ctx.tracer.span("queries.exec")(df.collect())
      val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      Result(df.schema, rows, planMs)
    }(_ => true)

    def logMs(phase: String, name: String, t: Option[Timed[Result]]): Unit =
      System.err.println(f"[perfbench] batch $phase%-6s $name%-26s ${t.map(_.ms).getOrElse(-1.0)}%9.1f ms")

    // -- set-up: a cold pass (codegen, footers, the queries' memoized
    // table builds), then a warm-up pass (the JIT is still compiling
    // their hot paths in the second pass)
    val t0 = System.nanoTime()
    names.foreach(n => logMs("cold", n, query(n)))
    names.foreach(n => logMs("warmup", n, query(n)))
    report.endToEnd("setup_s") = Metric((System.nanoTime() - t0) / 1e9, "s")
    report.conditions("batch_tables") = new java.io.File(sf).getName
    report.conditions("batch_input_bytes") = Files.bytesUnder(sf).toString

    // -- measured: one warm pass, then the list again, query by query,
    // until --seconds; every result is written out for the oracle check
    val perQuery = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer[Double]()): _*)
    val start = System.nanoTime()
    var i = 0
    while (i < names.size || System.nanoTime() - start < ctx.args.seconds * 1000000000L) {
      val n = names(i % names.size)
      val res = query(n)
      logMs("warm", n, res)
      res.foreach { t =>
        perQuery(n) += t.ms
        val dir = s"${ctx.args.workDir}/batch-out/$i-$n"
        spark.createDataFrame(t.value.rows.toSeq.asJava, t.value.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        report.oracleChecks(s"$n@$i") = dir
      }
      i += 1
    }
    report.conditions("batch_query_runs") = i.toString
    val medians = perQuery.values.filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).toSeq
    val n = report.named
    n("batch_total_s") = Metric(medians.sum / 1e3, "s")
    n("batch_geomean_ms") = Metric(Stats.geomean(medians), "ms")
    val e = report.endToEnd
    e("p50_ms") = Metric(Stats.median(medians), "ms")
    e("p90_ms") = Metric(Stats.quantile(medians, 0.9), "ms")
    e("geomean_ms") = n("batch_geomean_ms")
    e("throughput_per_s") = Metric(medians.size / (medians.sum / 1e3), "1/s")

    // -- traced pass
    if (ctx.args.trace) {
      val (traced, listener, overhead) = ctx.tracedPasses("batch.traced_pass")(
        names.flatMap(n => query(n).map(n -> _)))(_.map(_._2.ms).sum)
      val l = report.layers
      traced.foreach { case (name, t) =>
        val g = listener.group(t.opId)
        Layers.set(l, s"queries.$name.ms", t.ms)
        Layers.set(l, s"queries.$name.tasks", g.tasks.toDouble)
        Layers.set(l, s"queries.$name.shuffle_bytes", g.shuffleWrite.toDouble)
      }
      Layers.set(l, "queries.plan_ms", traced.map(_._2.value.planMs).sum)
      listener.sparkLayers(l)
      Layers.set(l, "trace.overhead_frac", overhead)
    }
  }
}
