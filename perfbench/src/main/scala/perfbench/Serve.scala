package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.{GraftField, GraftSchema}
import graft.table.{GraftTable, TableConfig}

/** `serve`: `nproc` client threads in a closed loop against one
  * compacted (k LONG, v LONG) table. Each operation kind runs in its own
  * phase, so no traffic mix is assumed: seeded point lookups through
  * `GraftTable.lookup`, then through the DSv2 source, then DSv2 key-range
  * scans. Every result is checked against the generator.
  */
object Serve {

  final case class Size(rows: Long, rangeRows: Int, planOps: Int)

  def size(tiny: Boolean): Size =
    if (tiny) Size(rows = 64000L, rangeRows = 500, planOps = 256)
    else Size(rows = 2000000L, rangeRows = 10000, planOps = 4096)

  val Leaves = 16
  val SetupReps = 3
  /** Length of the closed-loop pass that warms the served table. Lookup
    * latency keeps falling for about 20 s of serving (the JIT is still
    * compiling the planning and scan paths): after a 1 s pass the
    * `GraftTable.lookup` median spread 0.27 across seeds, after 12 s
    * about 0.1 (4-core host).
    */
  val WarmSeconds = 12

  /** The operation kinds, each with its share of the measured seconds.
    * Every figure is per kind or a geometric mean over kinds, so the
    * shares set sample counts, not results: `GraftTable.lookup` carries
    * the gated p50 and p90 and gets half.
    */
  val Kinds: Seq[(String, Double)] = Seq("lookup" -> 0.5, "sql_lookup" -> 0.25, "range" -> 0.25)

  /** Keys are i * Stride + off for i in [0, rows). */
  val Stride = 4L
  val Modulus = 1000000007L

  /** One completed operation: its wall time, split into planning (up to
    * `executedPlan`) and execution (`collect`).
    */
  final case class Sample(kind: String, ms: Double, planMs: Double, execMs: Double,
      opId: String, rows: Long)

  /** One pass over every kind: per kind, its samples and operations per
    * second (completed operations over the wall time to the last
    * completion).
    */
  final case class Pass(samples: Map[String, Seq[Sample]], opsPerS: Map[String, Double]) {
    def ms(kind: String): Seq[Double] = samples(kind).map(_.ms)
    /** Geometric mean of the kinds' operations per second. */
    def throughput: Double = Stats.geomean(Kinds.map(k => opsPerS(k._1)))
  }

  final class Gen(seed: Long, rows: Long) {
    val off: Long = Math.floorMod(seed, Stride)
    val mix: Long = Math.floorMod(seed * 0x9E3779B97F4A7C15L, Modulus)
    def key(i: Long): Long = i * Stride + off
    def value(i: Long): Long = (i * 2654435761L + mix) % Modulus
    def frame(spark: org.apache.spark.sql.SparkSession, parts: Int): DataFrame =
      spark.range(0, rows, 1, parts).select(
        (col("id") * Stride + lit(off)).as("k"),
        ((col("id") * 2654435761L + lit(mix)) % Modulus).as("v"))
  }

  val schema: GraftSchema = GraftSchema(
    rowKeys = Seq(GraftField("k", LongType)),
    sortKeys = Nil,
    values = Seq(GraftField("v", LongType)))

  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val sz = size(ctx.args.tiny)
    val gen = new Gen(ctx.args.seed, sz.rows)
    val plans = Kinds.map { case (kind, _) =>
      kind -> (0 until ctx.nproc).map(c => plan(ctx.args.seed, kind, c, sz))
    }.toMap

    // -- set-up, several times: build, compact and guard one table
    var dir = ""
    var createdVersion = 0L
    val setupSecs = (1 to SetupReps).map { rep =>
      if (dir.nonEmpty) Files.deleteRecursive(dir)
      dir = s"${ctx.args.workDir}/serve-table-$rep"
      val t0 = System.nanoTime()
      val splits = (1 until Leaves).map(j => gen.key(j * sz.rows / Leaves))
      val table = GraftTable.create(spark, dir, schema, splitPoints = splits,
        config = TableConfig(gcDelayMinutes = 0))
      createdVersion = Layers.version(table)
      table.ingest(gen.frame(spark, ctx.nproc))
      table.compactAll()
      guard(table, gen, sz, plans)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] serve set-up $rep: $secs%.2f s")
      secs
    }
    // then warm the last one with a fixed-length pass
    measure(ctx, GraftTable.load(spark, dir), dir, gen, sz, plans, WarmSeconds)
    report.endToEnd("setup_s") = Metric(Stats.median(setupSecs), "s")
    report.conditions("serve_rows") = sz.rows.toString
    report.conditions("serve_leaves") = Leaves.toString
    report.conditions("serve_table_bytes") = Files.bytesUnder(dir).toString

    // -- measured: one phase per kind
    val table = GraftTable.load(spark, dir)
    val pass = measure(ctx, table, dir, gen, sz, plans, ctx.args.seconds)
    val n = report.named
    n("lookup_p50_ms") = Metric(Stats.median(pass.ms("lookup")), "ms")
    n("lookup_p90_ms") = Metric(Stats.quantile(pass.ms("lookup"), 0.9), "ms")
    n("sql_lookup_p50_ms") = Metric(Stats.median(pass.ms("sql_lookup")), "ms")
    n("range_p50_ms") = Metric(Stats.median(pass.ms("range")), "ms")
    n("range_p90_ms") = Metric(Stats.quantile(pass.ms("range"), 0.9), "ms")
    n("serve_ops_per_s") = Metric(pass.throughput, "1/s")
    Kinds.foreach { case (k, _) =>
      n(s"${k}_ops_per_s") = Metric(pass.opsPerS(k), "1/s")
      report.conditions(s"${k}_samples") = pass.samples(k).size.toString
    }
    val e = report.endToEnd
    e("p50_ms") = n("lookup_p50_ms")
    e("p90_ms") = n("lookup_p90_ms")
    e("geomean_ms") = Metric(Stats.geomean(Kinds.map(k => Stats.median(pass.ms(k._1)))), "ms")
    e("throughput_per_s") = n("serve_ops_per_s")

    // -- traced run: the same pass with spans and the listener on
    if (ctx.args.trace) {
      val (traced, listener, overhead) = ctx.tracedPasses("serve.traced_pass")(
        measure(ctx, table, dir, gen, sz, plans, ctx.args.seconds))(p => 1.0 / p.throughput)
      val l = report.layers
      val loadMs = ctx.traced("serve.meta_load")(Layers.loadMs(ctx, dir))._1
      Layers.meta(l, GraftTable.load(spark, dir), loadMs, createdVersion)
      def perOp(kind: String, f: listener.Acc => Long): Double = {
        val xs = traced.samples(kind).map(s => f(listener.group(s.opId)).toDouble)
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      for ((prefix, kind) <- Seq("query" -> "lookup", "sources" -> "sql_lookup")) {
        val ks = traced.samples(kind)
        Layers.set(l, s"$prefix.plan_ms.p50", Stats.median(ks.map(_.planMs)))
        Layers.set(l, s"$prefix.exec_ms.p50", Stats.median(ks.map(_.execMs)))
        Layers.set(l, s"$prefix.exec_ms.p90", Stats.quantile(ks.map(_.execMs), 0.9))
        Layers.set(l, s"$prefix.rows_read_per_lookup", perOp(kind, _.recordsRead))
      }
      // the DSv2 reader reports no input bytes, so only the lookup path has them
      Layers.set(l, "query.bytes_read_per_lookup", perOp("lookup", _.bytesRead))
      val ranges = traced.samples("range")
      val rangeRead = ranges.map(s => listener.group(s.opId).recordsRead).sum.toDouble
      Layers.set(l, "sources.range_rows_read_per_row",
        rangeRead / math.max(1L, ranges.map(_.rows).sum))
      listener.sparkLayers(l)
      Layers.set(l, "trace.overhead_frac", overhead)
    }
  }

  /** Client `c`'s seeded generator indices for `kind`. */
  def plan(seed: Long, kind: String, c: Int, sz: Size): IndexedSeq[Long] = {
    val rnd = new SplittableRandom(seed * 1000003L + c * 31L + kind.hashCode)
    val span = if (kind == "range") sz.rows - sz.rangeRows + 1 else sz.rows
    IndexedSeq.fill(sz.planOps)(rnd.nextLong(span))
  }

  /** Set-up guard: every leaf holds rows, and every planned key lies in
    * a populated leaf inside the generated key range. A lookup into an
    * empty leaf costs a tenth of a populated one, so either defect would
    * turn the latency figures into a planning-only measurement.
    */
  def guard(table: GraftTable, gen: Gen, sz: Size, plans: Map[String, Seq[IndexedSeq[Long]]]): Unit = {
    val rowsByLeaf = table.store.fileReferences.groupBy(_.partitionId)
      .map { case (p, refs) => p -> refs.map(_.rowCount).sum }
    val leaves = table.store.partitionTree.leaves
    val empty = leaves.filter(l => rowsByLeaf.getOrElse(l.id, 0L) <= 0L)
    require(empty.isEmpty, s"serve set-up: ${empty.size} of ${leaves.size} leaves are empty")
    val bounds = leaves.map { l =>
      val r = l.region.ranges.head
      (r.min.map(_.asInstanceOf[Long]).getOrElse(Long.MinValue),
        r.max.map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue))
    }
    val (lo, hi) = (gen.key(0), gen.key(sz.rows - 1))
    for ((kind, ps) <- plans; i <- ps.flatten) {
      val last = if (kind == "range") i + sz.rangeRows - 1 else i
      Seq(gen.key(i), gen.key(last)).foreach { k =>
        require(k >= lo && k <= hi && bounds.exists { case (a, b) => k >= a && k < b },
          s"serve set-up: planned key $k is outside the populated key set")
      }
    }
  }

  /** Run and check one planned operation; None when it failed. */
  def runOp(ctx: Ctx, table: GraftTable, dir: String, gen: Gen, sz: Size,
      kind: String, i: Long): Option[Sample] = {
    val spark = ctx.spark
    val bias = if (ctx.args.wrongExpected) 1L else 0L
    def isRow(rows: Array[Row]): Boolean =
      rows.length == 1 && rows(0).getAs[Long]("k") == gen.key(i) &&
        rows(0).getAs[Long]("v") == gen.value(i) + bias
    val res = kind match {
      case "lookup" =>
        ctx.op(kind)(ctx.timedCollect("query", table.lookup(gen.key(i))))(r => isRow(r._1))
      case "sql_lookup" =>
        ctx.op(kind)(ctx.timedCollect("sources",
          spark.read.format("graft").load(dir).filter(col("k") === gen.key(i))))(r => isRow(r._1))
      case "range" =>
        val b = i + sz.rangeRows - 1
        val expSum = (i to b).iterator.map(gen.value).sum
        ctx.op(kind)(ctx.timedCollect("sources", spark.read.format("graft").load(dir)
            .filter(col("k") >= gen.key(i) && col("k") <= gen.key(b))))(
          r => r._1.length == sz.rangeRows && r._1.map(_.getAs[Long]("v")).sum == expSum)
    }
    res.map(t => Sample(kind, t.ms, t.value._2, t.value._3, t.opId, t.value._1.length.toLong))
  }

  /** One closed-loop phase per kind, each for its share of `seconds`. */
  def measure(ctx: Ctx, table: GraftTable, dir: String, gen: Gen, sz: Size,
      plans: Map[String, Seq[IndexedSeq[Long]]], seconds: Int): Pass = {
    val phases = Kinds.map { case (kind, share) =>
      kind -> closedLoop(ctx, table, dir, gen, sz, kind, plans(kind), seconds * share)
    }
    Pass(phases.map { case (k, p) => k -> p._1 }.toMap, phases.map { case (k, p) => k -> p._2 }.toMap)
  }

  /** `nproc` clients, each walking its own plan of `kind` for `seconds`.
    * Returns the completed samples and operations per second.
    */
  def closedLoop(ctx: Ctx, table: GraftTable, dir: String, gen: Gen, sz: Size, kind: String,
      plans: Seq[IndexedSeq[Long]], seconds: Double): (Seq[Sample], Double) = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val out = plans.map(_ => mutable.ArrayBuffer[Sample]())
    val ends = new Array[Long](plans.size)
    val parent = ctx.tracer.currentId
    val threads = plans.indices.map { c =>
      new Thread(() => ctx.tracer.under(parent) {
        var i = 0
        while (System.nanoTime() < deadline) {
          runOp(ctx, table, dir, gen, sz, kind, plans(c)(i % plans(c).size)).foreach(out(c) += _)
          i += 1
        }
        ends(c) = System.nanoTime()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val samples = out.flatten.toSeq
    (samples, samples.size / ((ends.max - start) / 1e9))
  }
}
