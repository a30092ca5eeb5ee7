package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One reported figure. */
final case class Metric(value: Double, unit: String)

/** An operation's result and its wall time, measured on the thread
  * that ran it.
  */
final case class Timed[T](value: T, ms: Double, opId: String)

/** Command-line arguments of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tiny: Boolean,
    workDir: String,
    sfDir: String,
    out: String,
    /** Perturb one expected value, so a run must report a failure. */
    wrongExpected: Boolean)

/** Percentiles and means over latency samples. */
object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Minimal JSON writer for the result file and the trace. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def metrics(m: collection.Map[String, Metric]): String =
    m.map { case (k, v) => s"${str(k)}:{\"value\":${num(v.value)},\"unit\":${str(v.unit)}}" }
      .mkString("{", ",", "}")

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. A span has a name, start, end, parent and
  * the operation id it belongs to; spans are written out once, at exit.
  * While disabled, `span` only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def currentId: Long = current.get

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** Run `body` as a child of span `parent` (used on worker threads). */
  def under[T](parent: Long)(body: => T): T = {
    val saved = current.get
    current.set(parent)
    try body finally current.set(saved)
  }

  def write(path: String, originNs: Long): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "start_ms" -> Json.num((s.startNs - originNs) / 1e6),
        "end_ms" -> Json.num((s.endNs - originNs) / 1e6))
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Shared state of one run: the session, the arguments, the tracer, the
  * operation counters and the bounded-operation runner.
  */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val opTimeoutSec: Long = 60
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val opIds = new AtomicLong()
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicLong()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-op-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run one counted operation of `kind` under the operation timeout, in
    * its own Spark job group (the op id, which the traced run's listener
    * attributes task metrics to). A throw, a timeout, or a result that
    * fails `valid` counts the operation as failed. Returns None when
    * the operation produced no result.
    */
  def op[T](kind: String)(body: => T)(valid: T => Boolean): Option[Timed[T]] = {
    attempted.incrementAndGet()
    val opId = s"$kind#${opIds.incrementAndGet()}"
    val parent = tracer.currentId
    val sc = spark.sparkContext
    val fut = pool.submit(new java.util.concurrent.Callable[Timed[T]] {
      def call(): Timed[T] = tracer.under(parent) {
        sc.setJobGroup(opId, kind, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          val v = tracer.span(kind, opId)(body)
          Timed(v, (System.nanoTime() - t0) / 1e6, opId)
        } finally sc.clearJobGroup()
      }
    })
    val res =
      try Right(fut.get(opTimeoutSec, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(opId)
          fut.cancel(true)
          Left(s"$opId timed out after ${opTimeoutSec}s")
        case e: java.util.concurrent.ExecutionException =>
          Left(s"$opId failed: ${e.getCause}")
        case e: Throwable => Left(s"$opId failed: $e")
      }
    res match {
      case Right(t) if valid(t.value) => Some(t)
      case Right(t) => fail(s"$opId returned a wrong result"); Some(t)
      case Left(msg) => fail(msg); None
    }
  }

  /** Build `df`, force its plan, then collect it: the rows, the planning
    * time (call to `executedPlan`) and the execution time (`collect`).
    * `collect` reuses the forced plan, so the split adds no work.
    */
  def timedCollect(prefix: String, df: => DataFrame): (Array[Row], Double, Double) = {
    val t0 = System.nanoTime()
    val d = tracer.span(s"$prefix.plan") { val d = df; d.queryExecution.executedPlan; d }
    val t1 = System.nanoTime()
    val rows = tracer.span(s"$prefix.exec")(d.collect())
    (rows, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
  }

  /** The traced phase: `body` under span `name` with spans on and a fresh
    * listener registered. Returns the body's result and the listener,
    * once the listener bus has delivered every event.
    */
  def traced[T](name: String)(body: => T): (T, LayerListener) = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    tracer.enabled = true
    try (tracer.span(name)(body), listener)
    finally {
      tracer.enabled = false
      org.apache.spark.PerfbenchListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** The traced run: after the measured pass, four more passes in
    * A-B-B-A order (untraced, traced, traced, untraced), so warm-up drift
    * weighs on both sides. Returns the first traced pass, its listener,
    * and the overhead: the traced passes' `cost` over the untraced
    * ones', minus one.
    */
  def tracedPasses[T](name: String)(pass: => T)(cost: T => Double): (T, LayerListener, Double) = {
    val u1 = pass
    val (t1, listener) = traced(name)(pass)
    val (t2, _) = traced(name)(pass)
    val u2 = pass
    (t1, listener, (cost(t1) + cost(t2)) / (cost(u1) + cost(u2)) - 1.0)
  }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  def failureMessages: Seq[String] = failures.asScala.toSeq

  def shutdown(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Per-workload output: end-to-end figures (the gated metrics), the
  * named figures each workload also reports, and per-layer figures
  * (traced runs only).
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Metric]()
  val conditions = mutable.LinkedHashMap[String, String]()
  /** Batch results to check against the oracle: query name -> parquet dir. */
  val oracleChecks = mutable.LinkedHashMap[String, String]()
}

/** Filesystem helpers over the local work directory. */
object Files {
  def sizes(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Map.empty
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
  }

  def bytesUnder(dir: String): Long = sizes(dir).values.sum

  def deleteRecursive(dir: String): Unit = {
    val root = new java.io.File(dir)
    if (root.exists())
      java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** Peak resident set (VmHWM) of this JVM in MB; NaN off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }
}
