package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.jobs.BasicCompactionStrategy
import graft.table.{GraftTable, TableConfig}

/** `ingest_compact`: from an empty `sum(v)` table, ingest seeded batches
  * whose keys overlap earlier batches, run the table's compaction
  * strategy and a partition split every few batches, then take one
  * full-table DSv2 read over the overlapping sorted runs (the N-way
  * merge path), `compactAll`, `collectGarbage`, and check the final
  * table against the generator's aggregate.
  */
object IngestCompact {

  final case class Size(keyBits: Int, batches: Int, rowsPerBatch: Int, lookups: Int) {
    def keySpace: Int = 1 << keyBits
    /** Below one leaf's rows after one compaction round, so the first
      * round's `splitPartitions` always splits. */
    def splitThreshold: Long = rowsPerBatch.toLong * CompactEvery / Leaves * 3 / 4
    /** The set-up's warm cycle: one batch of a quarter of the rows. */
    def warm: Size = copy(keyBits = keyBits - 2, batches = 1, rowsPerBatch = rowsPerBatch / 4,
      lookups = 1)
  }

  def size(tiny: Boolean): Size =
    if (tiny) Size(keyBits = 15, batches = 4, rowsPerBatch = 8192, lookups = 2)
    else Size(keyBits = 17, batches = 4, rowsPerBatch = 32768, lookups = 2)

  val CompactEvery = 2
  val Leaves = 4

  val P = 0x9E3779B1L

  /** The seeded input: batch b's row i has key (i*P + b*Q + off) mod K, so
    * keys are distinct within a batch and overlap across batches.
    */
  final class Gen(seed: Long, sz: Size) {
    val off: Long = Math.floorMod(seed * 0x9E3779B97F4A7C15L, sz.keySpace.toLong)
    val mix: Long = Math.floorMod(seed, 1000L)
    private def shift(b: Int): Long = b * 40503L + off
    def key(b: Int, i: Long): Int = Math.floorMod(i * P + shift(b), sz.keySpace.toLong).toInt
    def value(b: Int, i: Long): Long = Math.floorMod(i * 7919L + b * 104729L + mix, 1000L) + 1
    def batch(spark: org.apache.spark.sql.SparkSession, b: Int, parts: Int): DataFrame =
      spark.range(0, sz.rowsPerBatch, 1, parts).select(
        pmod(col("id") * P + lit(shift(b)), lit(sz.keySpace.toLong)).as("k"),
        (pmod(col("id") * 7919L + lit(b * 104729L + mix), lit(1000L)) + 1).as("v"))

    /** The aggregated table the generator implies: per-key sum(v). */
    lazy val expected: (Array[Long], java.util.BitSet) = {
      val agg = new Array[Long](sz.keySpace)
      val present = new java.util.BitSet(sz.keySpace)
      for (b <- 0 until sz.batches; i <- 0L until sz.rowsPerBatch.toLong) {
        val k = key(b, i)
        agg(k) += value(b, i)
        present.set(k)
      }
      (agg, present)
    }
    def liveRows: Long = expected._2.cardinality().toLong
    def total: Long = expected._1.sum
  }

  /** Figures of one cycle. */
  final class Cycle {
    val ops = mutable.ArrayBuffer[(String, Double)]()
    val ingestMs = mutable.ArrayBuffer[Double]()
    var wallS, compactMs, compactRows, mergeScanMs, mergeScanRows, splitMs, gcMs = 0.0
    var ingestRows, ingestFiles, compactIn, compactOut, splits, gcDeleted = 0L
    var bytesIngested, bytesCompacted, storedBytes, liveRows, created = 0L
    var lookups = Seq.empty[Timed[(Array[Row], Double, Double)]]
    var table: GraftTable = _
  }

  def run(ctx: Ctx, report: Report): Unit = {
    val sz = size(ctx.args.tiny)
    val gen = new Gen(ctx.args.seed, sz)

    gen.expected
    // -- set-up, several times: a small warm cycle on a fresh table
    val warm = new Gen(ctx.args.seed, sz.warm)
    val setupSecs = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      cycle(ctx, sz.warm, warm, s"${ctx.args.workDir}/ic-warm-$rep", requireSplit = false)
      (System.nanoTime() - t0) / 1e9
    }
    report.endToEnd("setup_s") = Metric(Stats.median(setupSecs), "s")
    report.conditions("ingest_rows_per_cycle") = (sz.batches.toLong * sz.rowsPerBatch).toString
    report.conditions("ingest_live_rows") = gen.liveRows.toString

    // -- measured: whole cycles, each on a fresh table, until --seconds
    val cycles = mutable.ArrayBuffer[Cycle]()
    val start = System.nanoTime()
    while (cycles.isEmpty || System.nanoTime() - start < ctx.args.seconds * 1000000000L)
      cycles += cycle(ctx, sz, gen, s"${ctx.args.workDir}/ic-table-${cycles.size}")
    report.conditions("ingest_stored_bytes") = cycles.last.storedBytes.toString
    report.conditions("ingest_cycles") = cycles.size.toString

    val n = report.named
    val ingestS = cycles.map(_.ingestMs.sum).sum / 1e3
    n("ingest_rows_per_s") = Metric(cycles.map(_.ingestRows).sum / ingestS, "1/s")
    n("compact_rows_per_s") = Metric(cycles.map(_.compactRows).sum /
      (cycles.map(_.compactMs).sum / 1e3), "1/s")
    n("merge_scan_rows_per_s") = Metric(cycles.map(_.mergeScanRows).sum /
      (cycles.map(_.mergeScanMs).sum / 1e3), "1/s")
    n("cycle_s") = Metric(Stats.median(cycles.map(_.wallS).toSeq), "s")
    n("stored_bytes_per_row") = Metric(cycles.last.storedBytes.toDouble / cycles.last.liveRows, "bytes")
    val e = report.endToEnd
    val ingests = cycles.flatMap(_.ingestMs).toSeq
    e("p50_ms") = Metric(Stats.median(ingests), "ms")
    e("p90_ms") = Metric(Stats.quantile(ingests, 0.9), "ms")
    e("geomean_ms") = Metric(Stats.geomean(cycles.flatMap(_.ops.map(_._2)).toSeq), "ms")
    e("throughput_per_s") = Metric(cycles.map(_.ingestRows).sum / cycles.map(_.wallS).sum, "1/s")

    // -- traced run: cycles with spans and the listener on
    if (ctx.args.trace) {
      var k = 0
      val (c, listener, overhead) = ctx.tracedPasses("ingest_compact.traced_cycle") {
        k += 1
        cycle(ctx, sz, gen, s"${ctx.args.workDir}/ic-traced-$k")
      }(_.wallS)
      val l = report.layers
      val loadMs = ctx.traced("ingest_compact.meta_load")(Layers.loadMs(ctx, c.table.dir))._1
      Layers.meta(l, GraftTable.load(ctx.spark, c.table.dir), loadMs, c.created)
      val lk = c.lookups
      Layers.set(l, "query.plan_ms.p50", Stats.median(lk.map(_.value._2)))
      Layers.set(l, "query.exec_ms.p50", Stats.median(lk.map(_.value._3)))
      Layers.set(l, "query.exec_ms.p90", Stats.quantile(lk.map(_.value._3), 0.9))
      Layers.set(l, "query.rows_read_per_lookup",
        lk.map(t => listener.group(t.opId).recordsRead).sum.toDouble / math.max(1, lk.size))
      Layers.set(l, "query.bytes_read_per_lookup",
        lk.map(t => listener.group(t.opId).bytesRead).sum.toDouble / math.max(1, lk.size))
      Layers.set(l, "sources.merge_scan_ms", c.mergeScanMs)
      Layers.set(l, "jobs.ingest_ms", c.ingestMs.sum)
      Layers.set(l, "jobs.ingest_files_written", c.ingestFiles.toDouble)
      Layers.set(l, "jobs.compact_ms", c.compactMs)
      Layers.set(l, "jobs.compact_files_in", c.compactIn.toDouble)
      Layers.set(l, "jobs.compact_files_out", c.compactOut.toDouble)
      Layers.set(l, "jobs.split_ms", c.splitMs)
      Layers.set(l, "jobs.splits", c.splits.toDouble)
      Layers.set(l, "jobs.gc_ms", c.gcMs)
      Layers.set(l, "jobs.gc_files_deleted", c.gcDeleted.toDouble)
      Layers.set(l, "jobs.bytes_written_per_user_byte",
        (c.bytesIngested + c.bytesCompacted).toDouble / (c.ingestRows * 16.0))
      listener.sparkLayers(l)
      Layers.set(l, "trace.overhead_frac", overhead)
    }
  }

  /** One full cycle on a fresh table at `dir`; every step is a counted,
    * bounded operation. A measured cycle that splits no partition counts
    * as failed; the set-up's small warm cycles may not split (their
    * batches can be small enough to land above the leaves).
    */
  def cycle(ctx: Ctx, sz: Size, gen: Gen, dir: String, requireSplit: Boolean = true): Cycle = {
    val spark = ctx.spark
    val c = new Cycle
    Files.deleteRecursive(dir)
    val splitPoints = (1 until Leaves).map(j => j.toLong * sz.keySpace / Leaves)
    val table = GraftTable.create(spark, dir, Serve.schema, splitPoints = splitPoints,
      config = TableConfig(aggregationConfig = "sum(v)", splitThreshold = sz.splitThreshold,
        compactionBatchSize = 4, gcDelayMinutes = 0))
    c.table = table
    c.created = Layers.version(table)
    var files = Files.sizes(table.dataDir)
    /** Bytes of data files that appeared since the last call. */
    def newBytes(): Long = {
      val now = Files.sizes(table.dataDir)
      val added = now.collect { case (p, s) if !files.contains(p) => s }.sum
      files = now
      added
    }
    def refRows(): Map[(String, String), Long] =
      table.store.fileReferences.map(r => (r.filename, r.partitionId) -> r.rowCount).toMap
    def compaction(kind: String)(body: => Unit): Unit = {
      val before = refRows()
      ctx.op(kind)(body)(_ => true).foreach { t =>
        val after = refRows()
        c.compactMs += t.ms
        c.compactRows += before.filter { case (k, _) => !after.contains(k) }.values.sum.toDouble
        c.compactIn += before.keySet.map(_._1).diff(after.keySet.map(_._1)).size
        c.compactOut += after.keySet.map(_._1).diff(before.keySet.map(_._1)).size
        c.ops += kind -> t.ms
        c.bytesCompacted += newBytes()
      }
    }
    val bias = if (ctx.args.wrongExpected) 1L else 0L
    def countAndSum(df: DataFrame): (Long, Long) = {
      val r = df.filter(col("v") >= 0).agg(count(lit(1)), sum(col("v"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    val t0 = System.nanoTime()
    for (b <- 0 until sz.batches) {
      ctx.op("ingest")(table.ingest(gen.batch(spark, b, ctx.nproc)))(_.nonEmpty).foreach { t =>
        c.ingestMs += t.ms
        c.ingestRows += sz.rowsPerBatch
        c.ingestFiles += t.value.size
        c.ops += "ingest" -> t.ms
        c.bytesIngested += newBytes()
      }
      if ((b + 1) % CompactEvery == 0 && b + 1 < sz.batches) {
        compaction("compact")(table.compact(BasicCompactionStrategy(table.config.compactionBatchSize)))
        ctx.op("split")(table.splitPartitions())(_ => true).foreach { t =>
          c.splitMs += t.ms
          c.splits += t.value.size
          c.ops += "split" -> t.ms
        }
      }
    }
    if (requireSplit && c.splits == 0) ctx.fail(s"ingest_compact: no partition split in $dir")
    val rowsInFiles = table.store.fileReferences.map(_.rowCount).sum
    val expect = (gen.liveRows, gen.total + bias)
    ctx.op("merge_scan")(countAndSum(spark.read.format("graft").load(dir)))(_ == expect)
      .foreach { t =>
        c.mergeScanMs = t.ms
        c.mergeScanRows = rowsInFiles.toDouble
        c.ops += "merge_scan" -> t.ms
      }
    compaction("compact_all")(table.compactAll())
    ctx.op("gc")(table.collectGarbage())(_ => true).foreach { t =>
      c.gcMs = t.ms
      c.gcDeleted = t.value.size
      c.ops += "gc" -> t.ms
    }
    ctx.op("final_scan")(countAndSum(spark.read.format("graft").load(dir)))(_ == expect)
      .foreach(t => c.ops += "final_scan" -> t.ms)
    val rnd = new java.util.SplittableRandom(gen.off)
    val (agg, present) = gen.expected
    c.lookups = (1 to sz.lookups).flatMap { _ =>
      var k = rnd.nextInt(sz.keySpace)
      while (!present.get(k)) k = rnd.nextInt(sz.keySpace)
      val key = k.toLong
      ctx.op("lookup")(ctx.timedCollect("query", table.lookup(key))) { r => r._1.length == 1 && r._1(0).getAs[Long]("v") == agg(k) + bias }
    }
    c.lookups.foreach(t => c.ops += "lookup" -> t.ms)
    c.wallS = (System.nanoTime() - t0) / 1e9
    c.liveRows = gen.liveRows
    c.storedBytes = Files.bytesUnder(dir)
    System.err.println(f"[perfbench] cycle ${c.wallS}%6.2f s: " +
      c.ops.map { case (k, ms) => f"$k $ms%.0f" }.mkString(", ") + " ms")
    c
  }
}
