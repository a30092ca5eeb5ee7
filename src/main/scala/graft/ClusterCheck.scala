package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Runs headline queries under `local-cluster[2,2,2048]` — real executor
  * JVMs, real task/closure serialization, a real shuffle service — the
  * multi-executor failure modes `local[N]` structurally hides (executor
  * classpath, non-serializable closures, state-store and shuffle files
  * crossing process boundaries). Prints ONE JSON line with per-query
  * rows / canonical md5 / seconds and exits non-zero if any query dies.
  *
  * The hash is canonical (columns sorted by name, row strings sorted),
  * so a `local[N]` session computing [[resultHash]] over the same query
  * must agree bit-for-bit; `LocalClusterSpec` asserts exactly that and
  * `Bench` records the timings as `cluster_*` scale rows.
  *
  * Run from a fresh JVM with the Spark jars directory and the packaged
  * app jar on the classpath (executor processes fetch application
  * classes via `spark.jars`, which must be a jar, not a classes
  * directory): `java <add-opens> -cp <spark-jars-glob>:<app-jar>
  * graft.ClusterCheck <sfDir>` — [[runAsProcess]] does exactly that.
  */
object ClusterCheck {

  /** Queries covering the serialization-sensitive engine surfaces:
    * table lifecycle (ingest → split → compact → query through DSv2),
    * DSv2 pushdown scan, the custom sorted-merge RDD, codegen'd hash
    * expressions + shuffle joins (MinHash-LSH), and stateful structured
    * streaming (watermarked window agg, executor state stores).
    */
  val HeadlineQueries: Seq[String] = Seq(
    "m2_lifecycle", "s2_dsv2_pushdown", "o1_sorted_merge",
    "d3_minhash_lsh", "t7_stream_window",
    // round 11: sidecar-stats file skipping plans on the DRIVER but its
    // surviving-file RunSpecs must reach executors; SQ8 runs codegen'd
    // byte-loop expressions inside executor JVMs (the classloader
    // surface that bit the vectorized bridge); CMS TypedImperative
    // partials serialize executor->driver.
    "p7_stats_skipping", "v11_knn_sq8", "a11_countmin",
    // round 12: the co-partitioned merge join ships RunSpec PAIRS inside
    // CoJoinRDD partitions to executors (a new custom-RDD serialization
    // surface); binary-quantization kNN runs the Bq codegen expressions
    // in executor JVMs.
    "j7_colocated_join", "v13_knn_binary",
    // round-12 closers: bloom file skipping (sidecar built on executors,
    // probed on the driver), HLL partial merge across real executors,
    // outer-join watermark eviction across executor state stores
    "p9_bloom_skip", "a12_hll_distinct", "t45_stream_outer_join",
    // schema evolution: evolved-read through executor-side readers
    "m11_add_column",
    // row-key deletes: tombstone anti-merge inside executor-side RunSpecs
    "m13_delete_keys",
    // LWW upsert + MERGE INTO: seq-ordered merge ties and the
    // generation-aware (per-reader) anti-join run inside executor
    // RunSpecs
    "m14_upsert_lww", "m16_merge_into",
    // deep clone: the executor-parallel file copy ships the serializable
    // Hadoop conf + GraftFS closure into executor JVMs
    "x13_clone",
    // round 13: the CDF stream's reader factory (key-only delete files,
    // null-padded value slots, per-partition op/version/seq constants)
    // deserializes inside executor JVMs; the SQL time-travel pinned scan
    // ships historical RunSpecs the same way the live scan does; the
    // streaming SINK's writer factory ships the partition tree + key
    // ordering into executor DataWriters (leaf counting, sorted writes)
    "t47_stream_cdf", "x15_sql_time_travel", "t48_stream_sink",
    // round 14: a shallow clone's scan ships EXTERNAL (absolute-path)
    // file references inside executor RunSpecs; CTAS writes through
    // the staged table's normal ingest dataflow before the publish rename
    "x22_shallow_clone", "x21_sql_ctas")

  /** Canonical content hash: columns sorted by name, every cell cast to
    * string (nulls as NUL), cells joined with SOH, row strings sorted —
    * partitioning and task scheduling cannot move it.
    */
  def resultHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq
    val strs = df.select(cols.map(c => col(c).cast("string")): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    strs.foreach(s => md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    (strs.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** JDK17 module opens Spark needs when the session is created outside
    * spark-submit — for this driver JVM's own config of its executors.
    */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the code source IS the packaged jar when launched per the scaladoc
    val jar = sys.env.getOrElse("GRAFT_JAR",
      getClass.getProtectionDomain.getCodeSource.getLocation.getPath)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_CLUSTER_MASTER", "local-cluster[2,2,2048]"))
      .appName("graft-cluster-check")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.jars", jar)
      .config("spark.executor.extraJavaOptions", addOpens.mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var ok = true
    val rows = HeadlineQueries.map { name =>
      val t0 = System.nanoTime()
      val cell =
        try {
          val (n, h) = resultHash(SparkEntry.queries(name)(spark, sfDir))
          val sec = math.rint((System.nanoTime() - t0) / 1e9 * 1e4) / 1e4
          s""""$name":{"rows":$n,"md5":"$h","sec":$sec}"""
        } catch {
          case e: Throwable =>
            ok = false
            val msg = String.valueOf(e).replaceAll("[\"\\\\\\n\\r]", " ").take(300)
            s""""$name":{"error":"$msg"}"""
        }
      cell
    }
    val json =
      s"""{"master":"${spark.sparkContext.master}","sf":"$sfDir","ok":$ok,"queries":{${rows.mkString(",")}}}"""
    spark.stop()
    println(json)
    if (!ok) sys.exit(1)
  }

  /** Launch the check in a fresh JVM (fresh SparkContext — the caller's
    * in-process `local[N]` context cannot coexist with a second master).
    * Returns (exitCode, last JSON line or full output on failure).
    */
  def runAsProcess(sfDir: String, timeoutSec: Long = 900,
      master: String = "local-cluster[2,2,2048]"): (Int, String) = {
    val jarDir = new java.io.File("target/scala-2.13")
    val jar = Option(jarDir.listFiles()).toSeq.flatten
      .find(f => f.getName.endsWith(".jar") && !f.getName.contains("-sources"))
      .getOrElse(sys.error(s"packaged jar not found under $jarDir — run packageBin"))
      .getAbsolutePath
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-Dspark.ui.enabled=false",
      "-cp", s"/opt/spark/jars/*:$jar",
      "graft.ClusterCheck", sfDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("GRAFT_JAR", jar)
    pb.environment().put("GRAFT_CLUSTER_MASTER", master)
    // the Worker builds executor commands through the launcher library,
    // which needs the scala suffix when not started via spark-class
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val drainer = new Thread(() => {
      var l = out.readLine()
      while (l != null) { lines += l; l = out.readLine() }
    })
    drainer.setDaemon(true)
    drainer.start()
    val errDrain = new Thread(() => {
      val err = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (err.read(buf) >= 0) {}
    })
    errDrain.setDaemon(true)
    errDrain.start()
    val done = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { proc.destroyForcibly(); return (-1, "timeout") }
    drainer.join(5000)
    val code = proc.exitValue()
    val json = lines.reverse.find(_.startsWith("{")).getOrElse(lines.mkString("\n").take(2000))
    (code, json)
  }
}
