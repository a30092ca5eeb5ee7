package perfbench

import scala.collection.mutable

/** Every per-layer figure a traced run reports, in output order, with
  * its unit. A traced run of any workload reports all of them; a layer
  * the workload does not exercise reads 0.
  */
object Layers {
  /** The `batch` workload's queries: the LM-scoring and chunking rows
    * round 18 regressed, which the open ROADMAP directions name.
    * `t15_lm_score` runs 0.6 s warm with `t21_lm_buckets` in the list and
    * 2.7 s without it, so the two stay together.
    */
  val batchQueries: Seq[String] = Seq("t15_lm_score", "t21_lm_buckets", "t35_chunk")

  val all: Seq[(String, String)] =
    Seq(
      "meta.load_ms" -> "ms", "meta.versions" -> "count",
      "meta.log_bytes" -> "bytes", "meta.file_refs" -> "count",
      "query.plan_ms.p50" -> "ms", "query.exec_ms.p50" -> "ms", "query.exec_ms.p90" -> "ms",
      "query.rows_read_per_lookup" -> "rows", "query.bytes_read_per_lookup" -> "bytes",
      "sources.plan_ms.p50" -> "ms", "sources.exec_ms.p50" -> "ms",
      "sources.exec_ms.p90" -> "ms", "sources.rows_read_per_lookup" -> "rows",
      "sources.range_rows_read_per_row" -> "ratio",
      "sources.merge_scan_ms" -> "ms",
      "jobs.ingest_ms" -> "ms", "jobs.ingest_files_written" -> "count",
      "jobs.compact_ms" -> "ms", "jobs.compact_files_in" -> "count",
      "jobs.compact_files_out" -> "count", "jobs.split_ms" -> "ms", "jobs.splits" -> "count",
      "jobs.gc_ms" -> "ms", "jobs.gc_files_deleted" -> "count",
      "jobs.bytes_written_per_user_byte" -> "ratio") ++
    batchQueries.flatMap(q => Seq(s"queries.$q.ms" -> "ms", s"queries.$q.tasks" -> "count",
      s"queries.$q.shuffle_bytes" -> "bytes")) ++
    Seq("queries.plan_ms" -> "ms",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.executor_cpu_s" -> "s",
      "spark.executor_run_s" -> "s", "spark.jvm_gc_s" -> "s",
      "spark.scheduler_delay_s" -> "s", "spark.task_failures" -> "count",
      "spark.max_task_over_median" -> "ratio", "trace.overhead_frac" -> "ratio")

  private val units = all.toMap

  /** A figure under its declared unit. */
  def set(into: mutable.Map[String, Metric], name: String, value: Double): Unit = {
    require(units.contains(name), s"undeclared per-layer metric $name")
    into(name) = Metric(value, units(name))
  }

  /** The full per-layer table: `measured` entries, 0 for the rest. */
  def complete(measured: collection.Map[String, Metric]): mutable.LinkedHashMap[String, Metric] = {
    val out = mutable.LinkedHashMap[String, Metric]()
    all.foreach { case (n, u) => out(n) = measured.getOrElse(n, Metric(0.0, u)) }
    out
  }

  /** Median wall time of five `GraftTable.load` calls on `dir`. */
  def loadMs(ctx: Ctx, dir: String): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    ctx.tracer.span("meta.load")(graft.table.GraftTable.load(ctx.spark, dir))
    (System.nanoTime() - t0) / 1e6
  })

  /** The table's state-store version; -1 for a store without one. */
  def version(table: graft.table.GraftTable): Long = table.store match {
    case s: graft.meta.ConfiguredState => s.currentVersion
    case _ => -1L
  }

  /** Meta-layer figures of a table directory: the state-store version
    * delta since creation, the log's bytes on disk and the live file
    * references.
    */
  def meta(into: mutable.Map[String, Metric], table: graft.table.GraftTable,
      loadMs: Double, createdVersion: Long): Unit = {
    set(into, "meta.load_ms", loadMs)
    set(into, "meta.versions", (version(table) - createdVersion).toDouble)
    set(into, "meta.log_bytes", Files.bytesUnder(s"${table.dir}/meta").toDouble)
    set(into, "meta.file_refs", table.store.fileReferences.size.toDouble)
  }
}
