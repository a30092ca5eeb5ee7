package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.table.{GraftTable, TableConfig}

/** The DSv2 `format("graft")` read path: schema inference, row fidelity,
  * filter→region partition pruning, column pruning, persistent
  * aggregation semantics, and the declared sort order eliminating
  * downstream sorts.
  */
class GraftSourceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val schema = GraftSchema(
    rowKeys = Seq(GraftField("key", StringType)),
    sortKeys = Seq(GraftField("ts", LongType)),
    values = Seq(GraftField("count", LongType), GraftField("m", MapType(StringType, LongType))))

  private def tmp() = Files.createTempDirectory("graft-dsv2").toString

  private def batch(rows: (String, Long, Long, Map[String, Long])*) =
    rows.toDF("key", "ts", "count", "m")

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputRDD.getNumPartitions
    }.sum

  test("reads back exactly what the table holds (incl. maps), sorted within partitions") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("apple", 2L, 1L, Map("x" -> 1L)), ("zebra", 1L, 5L, Map("y" -> 2L)),
      ("apple", 1L, 2L, Map.empty[String, Long]), ("mango", 3L, 3L, Map("z" -> 9L))))

    val df = spark.read.format("graft").load(dir)
    assert(df.schema == schema.toStructType)
    val got = df.as[(String, Long, Long, Map[String, Long])].collect().toSet
    assert(got == Set(
      ("apple", 2L, 1L, Map("x" -> 1L)), ("zebra", 1L, 5L, Map("y" -> 2L)),
      ("apple", 1L, 2L, Map.empty[String, Long]), ("mango", 3L, 3L, Map("z" -> 9L))))

    // each partition stream is sorted by (key, ts)
    import org.apache.spark.sql.functions._
    val perPart = df.select(col("key"), col("ts"),
      spark_partition_id().as("p")).as[(String, Long, Int)].collect().toSeq
    perPart.groupBy(_._3).values.foreach { rows =>
      val keys = rows.map(r => (r._1, r._2))
      assert(keys == keys.sortBy(identity), s"partition not sorted: $keys")
    }
  }

  test("WHERE on a row key prunes leaf partitions before reading") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("h", "p"))
    table.ingest(batch(
      ("aaa", 1L, 1L, Map.empty[String, Long]), ("kkk", 1L, 2L, Map.empty[String, Long]),
      ("zzz", 1L, 3L, Map.empty[String, Long])))

    val df = spark.read.format("graft").load(dir)
    assert(scanPartitions(df) == 3) // no filter: all three leaves

    val one = df.filter($"key" === "kkk")
    assert(scanPartitions(one) == 1, "point lookup must scan exactly one leaf")
    assert(one.select("count").as[Long].collect().toSeq == Seq(2L))

    val range = df.filter($"key" >= "p")
    assert(scanPartitions(range) == 1)
    assert(range.select("key").as[String].collect().toSeq == Seq("zzz"))

    val in = df.filter($"key".isin("aaa", "zzz"))
    assert(scanPartitions(in) == 2)
    assert(in.select("key").as[String].collect().toSet == Set("aaa", "zzz"))
  }

  test("spark.sql over a graft view with pushdown") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("ant", 1L, 10L, Map.empty[String, Long]), ("yak", 1L, 20L, Map.empty[String, Long])))
    spark.read.format("graft").load(dir).createOrReplaceTempView("gsrc_t")
    val got = spark.sql("SELECT key, count FROM gsrc_t WHERE key < 'm'")
    assert(scanPartitions(got) == 1)
    assert(got.as[(String, Long)].collect().toSeq == Seq(("ant", 10L)))
  }

  test("persistent aggregation config applies on the DSv2 read") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema,
      config = TableConfig(aggregationConfig = "sum(count),map_sum(m)"))
    table.ingest(batch(("a", 1L, 2L, Map("x" -> 1L))))
    table.ingest(batch(("a", 1L, 3L, Map("x" -> 4L, "z" -> 1L))))
    val got = spark.read.format("graft").load(dir)
      .as[(String, Long, Long, Map[String, Long])].collect()
    assert(got.toSeq == Seq(("a", 1L, 5L, Map("x" -> 5L, "z" -> 1L))))
  }

  test("after a split, ancestor files are clipped per leaf (no duplicate rows)") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema,
      config = TableConfig(splitThreshold = 2))
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]), ("b", 1L, 2L, Map.empty[String, Long]),
      ("x", 1L, 3L, Map.empty[String, Long]), ("y", 1L, 4L, Map.empty[String, Long])))
    assert(table.splitPartitions().nonEmpty) // root file now referenced by 2 leaves

    val df = spark.read.format("graft").load(dir)
    assert(scanPartitions(df) == 2)
    val got = df.select("key").as[String].collect().toSeq
    assert(got.sorted == Seq("a", "b", "x", "y"), s"got $got")
  }

  test("declared output ordering eliminates a redundant sort on the keys") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("ant", 1L, 1L, Map.empty[String, Long]), ("yak", 1L, 2L, Map.empty[String, Long])))
    val df = spark.read.format("graft").load(dir)

    val sorted = df.sortWithinPartitions("key", "ts")
    val sortNodes = sorted.queryExecution.executedPlan.collect { case s: SortExec => s }
    assert(sortNodes.isEmpty,
      s"sortWithinPartitions on the declared key order should be eliminated:\n${sorted.queryExecution.executedPlan}")
    // and it still returns the data
    assert(sorted.count() == 2)
  }

  test("DSv2 append write runs the ingest dataflow; overwrite replaces atomically") {
    val dir = tmp()
    GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    batch(("ant", 1L, 1L, Map("a" -> 1L)), ("yak", 1L, 2L, Map.empty[String, Long]))
      .write.format("graft").mode("append").save(dir)
    val table = GraftTable.load(spark, dir)
    assert(table.store.fileReferences.map(_.partitionId).distinct.size == 2)
    assert(table.toDF.select("key").as[String].collect().toSet == Set("ant", "yak"))

    // SQL INSERT INTO through a view lands the same way, and a SELECT on
    // the SAME view sees it (snapshot refreshes per scan build)
    spark.read.format("graft").load(dir).createOrReplaceTempView("w_t")
    spark.sql("INSERT INTO w_t VALUES ('mid', 2, 7, map('k', CAST(9 AS BIGINT)))")
    assert(GraftTable.load(spark, dir).toDF.count() == 3)
    assert(spark.sql("SELECT count(*) FROM w_t").head().getLong(0) == 3)

    // overwrite mode = atomic replace (ONE composite Truncate+AddFiles
    // version — see TruncateSpec for the SQL INSERT OVERWRITE path)
    val vBefore = graft.meta.JsonStateStore.load(s"$dir/meta").currentVersion
    batch(("x", 1L, 1L, Map.empty[String, Long]))
      .write.format("graft").mode("overwrite").save(dir)
    val st = graft.meta.JsonStateStore.load(s"$dir/meta")
    assert(st.currentVersion == vBefore + 1, "overwrite is one atomic version")
    assert(GraftTable.load(spark, dir).toDF.select("key").as[String]
      .collect().toSeq == Seq("x"))
  }

  test("runtime filtering prunes leaves when joined to a filtered dim (DPP analog)") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema,
      splitPoints = (1 to 9).map(i => f"k$i%02d0"))
    table.ingest((0 until 1000).map(i =>
      (f"k$i%03d", 1L, i.toLong, Map.empty[String, Long])).toDF("key", "ts", "count", "m"))
    val fact = spark.read.format("graft").load(dir)

    // DPP needs a selective predicate on the build side
    val dimDir = tmp()
    (0 until 100).map(i => (f"k$i%03d", if (i == 50 || i == 55) "hot" else "cold"))
      .toDF("key", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"label" === "hot")

    val joined = fact.join(dim, "key").select("key", "count")
    assert(joined.as[(String, Long)].collect().toSet == Set(("k050", 50L), ("k055", 55L)))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"expected a runtime group filter on the scan:\n${planStr.take(800)}")
  }

  test("persistent ageOff filter applies on the DSv2 read") {
    val dir = tmp()
    val now = System.currentTimeMillis()
    val table = GraftTable.create(spark, dir, schema,
      config = TableConfig(filterConfig = "ageOff(ts,3600000)")) // keep < 1h old
    table.ingest(batch(
      ("fresh", now - 1000L, 1L, Map.empty[String, Long]),
      ("stale", now - 7200000L, 2L, Map.empty[String, Long])))
    val got = spark.read.format("graft").load(dir).select("key").as[String].collect().toSeq
    assert(got == Seq("fresh"))
  }

  test("DSv2 read refuses tables with a custom transform (cannot apply it)") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema,
      config = TableConfig(transformConfig = "graft.transforms.SecurityFilter{vis,public}"))
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long])))
    val e = intercept[Exception](spark.read.format("graft").load(dir).collect())
    assert(e.getMessage.contains("transform"), e.getMessage)
  }

  test("GraftTable.query and lookup run on GraftScan, exact on the columnar path") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema)
    val keys = (0 until 100).map(i => f"k$i%03d")
    table.ingest(batch(keys.map(k => (k, 1L, 1L, Map.empty[String, Long])): _*))
    table.ingest(batch(keys.map(k => (k, 2L, 2L, Map.empty[String, Long])): _*))
    table.compactAll()

    def graftScans(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }

    // one compacted leaf = one file: the columnar reader decodes the pages
    // the region can touch and trims them to exactly the region's rows
    val range = table.query(graft.query.GraftQuery.forRegions(
      Region(KeyRange.minMax("key", "k010", "k020"))))
    assert(graftScans(range).map(_.supportsColumnar) == Seq(true))
    assert(range.select("key").as[String].collect().toSeq.sorted ==
      keys.slice(10, 20).flatMap(k => Seq(k, k)))

    val lookup = table.relationQuery(graft.query.GraftQuery.forKeys(schema, Seq("k042")))
    val plan = lookup.queryExecution.executedPlan
    assert(graftScans(lookup).size == 1, plan.toString)
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.isEmpty, plan.toString)
    assert(lookup.select("ts").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
  }

  test("GraftTable.lookup of a one-leaf key reads it locally, as the columnar path does") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema)
    val keys = (0 until 100).map(i => f"k$i%03d")
    table.ingest(batch(keys.map(k => (k, 1L, 1L, Map("x" -> 1L))): _*))
    table.ingest(batch(keys.map(k => (k, 2L, 2L, Map.empty[String, Long])): _*))
    table.compactAll()

    val (rows, jobs) = graft.TestSpark.jobsRun(table.lookup("k042")
      .as[(String, Long, Long, Map[String, Long])].collect().toSeq)
    assert(jobs == 0)
    assert(rows == Seq(("k042", 1L, 1L, Map("x" -> 1L)), ("k042", 2L, 2L, Map.empty[String, Long])))
    assert(rows == table.relationQuery(graft.query.GraftQuery.forKeys(schema, Seq("k042")))
      .as[(String, Long, Long, Map[String, Long])].collect().toSeq)
    assert(table.lookup("k042").select("ts").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
  }

  test("vectorized fast path activates on a fully-compacted table and matches the row path") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(("a", 1L, 1L, Map("x" -> 1L)), ("z", 1L, 2L, Map.empty[String, Long])))
    table.ingest(batch(("b", 1L, 3L, Map.empty[String, Long]), ("y", 2L, 4L, Map("y" -> 5L))))

    def scanNode(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head

    val before = spark.read.format("graft").load(dir)
    assert(!scanNode(before).supportsColumnar,
      "multi-file leaves must stay on the row merge path")
    val rowsBefore = before.as[(String, Long, Long, Map[String, Long])].collect().toSet

    table.compactAll()
    val after = spark.read.format("graft").load(dir)
    assert(scanNode(after).supportsColumnar,
      "compacted single-file leaves should serve ColumnarBatches")
    assert(after.as[(String, Long, Long, Map[String, Long])].collect().toSet == rowsBefore)

    // pruning, pushdown, and projection still work on the columnar path
    val one = after.filter($"key" === "b").select("count")
    assert(scanPartitions(one) == 1)
    assert(one.as[Long].collect().toSeq == Seq(3L))

    // per-partition order is preserved (single sorted file read in order)
    val sorted = after.sortWithinPartitions("key", "ts")
    assert(sorted.queryExecution.executedPlan.collect { case s: SortExec => s }.isEmpty)
  }

  test("mixed table goes columnar: compacted leaves native, multi-run leaves wrapped") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("a", 1L, 1L, Map("x" -> 1L)), ("z", 1L, 2L, Map.empty[String, Long])))
    // second batch touches ONLY the right leaf -> left stays single-file
    table.ingest(batch(("y", 1L, 3L, Map("y" -> 9L))))

    val df = spark.read.format("graft").load(dir)
    val scan = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(scan.supportsColumnar,
      "one compacted leaf should pull the scan onto the columnar path")
    assert(df.as[(String, Long, Long, Map[String, Long])].collect().toSet == Set(
      ("a", 1L, 1L, Map("x" -> 1L)), ("z", 1L, 2L, Map.empty[String, Long]),
      ("y", 1L, 3L, Map("y" -> 9L))))
    // order still preserved per partition through the wrapped batches
    val sorted = df.sortWithinPartitions("key", "ts")
    assert(sorted.queryExecution.executedPlan.collect { case s: SortExec => s }.isEmpty)
  }

  test("persistent aggregation keeps the scan on the row merge path even when compacted") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema,
      config = TableConfig(aggregationConfig = "sum(count),map_sum(m)"))
    table.ingest(batch(("a", 1L, 2L, Map("x" -> 1L))))
    table.ingest(batch(("a", 1L, 3L, Map("x" -> 4L))))
    table.compactAll()
    // compaction already folded the rows; config still demands merge semantics
    val df = spark.read.format("graft").load(dir)
    val b = df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }.head
    assert(!b.supportsColumnar)
    assert(df.as[(String, Long, Long, Map[String, Long])].collect().toSeq ==
      Seq(("a", 1L, 5L, Map("x" -> 5L))))
  }

  test("row estimate counts refs still parked on ancestor partitions") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema)
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]), ("z", 1L, 2L, Map.empty[String, Long])))
    // metadata-only split: the root's ref stays on the (now non-leaf) root
    val root = table.store.partitionTree.root.id
    table.store.splitPartition(root, 0, "m", s"$root-a", s"$root-b")

    val store = graft.meta.JsonStateStore.load(s"$dir/meta")
    val scan = new GraftScanBuilder(dir, store).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val stats = scan.estimateStatistics()
    assert(stats.numRows.getAsLong == 2,
      s"ancestor-held refs must prorate into numRows, got ${stats.numRows}")
    assert(stats.sizeInBytes.getAsLong > 0)
  }

  test("LIMIT and key-order TopN push a per-partition row cap into the scan") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]), ("b", 1L, 2L, Map.empty[String, Long]),
      ("c", 1L, 3L, Map.empty[String, Long]), ("n", 1L, 4L, Map.empty[String, Long]),
      ("p", 1L, 5L, Map.empty[String, Long]), ("z", 1L, 6L, Map.empty[String, Long])))
    val df = spark.read.format("graft").load(dir)

    def scanDesc(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head

    val limited = df.limit(3)
    assert(limited.collect().length == 3)
    assert(scanDesc(limited).contains("perPartitionLimit=3"))

    // ORDER BY on the key prefix: partition streams are sorted, so the
    // per-partition head IS the top-n — pushed
    val topn = df.orderBy("key", "ts").limit(2)
    assert(topn.select("key").as[String].collect().toSeq == Seq("a", "b"))
    assert(scanDesc(topn).contains("perPartitionLimit=2"))

    // DESC order: pushed as the per-partition LAST-n ring buffer (DESC
    // NULLS LAST reverses the storage order exactly)
    val descTop = df.orderBy($"key".desc).limit(2)
    assert(descTop.select("key").as[String].collect().toSeq == Seq("z", "p"))
    assert(scanDesc(descTop).contains("perPartitionLimit=2 desc"))

    // mixed leading-DESC order: pushed as the last-groups deque walk
    val mixed = df.orderBy($"key".desc, $"ts".asc).limit(2)
    assert(mixed.select("key").as[String].collect().toSeq == Seq("z", "p"))
    assert(scanDesc(mixed).contains("perPartitionLimit=2 mixed=desc,asc"))

    // the cap also holds on the NATIVE vectorized path (compacted table)
    table.compactAll()
    val dfc = spark.read.format("graft").load(dir)
    val topnC = dfc.orderBy("key", "ts").limit(2)
    assert(scanDesc(topnC).contains("perPartitionLimit=2"))
    assert(topnC.select("key").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("mixed ASC,DESC TopN pushes the bounded per-group walk") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("a", 1L, 10L, Map.empty[String, Long]), ("a", 3L, 30L, Map.empty[String, Long]),
      ("b", 1L, 1L, Map.empty[String, Long]), ("n", 2L, 2L, Map.empty[String, Long])))
    table.ingest(batch(
      ("a", 2L, 20L, Map.empty[String, Long]), ("b", 5L, 5L, Map.empty[String, Long]),
      ("z", 9L, 9L, Map.empty[String, Long])))
    val df = spark.read.format("graft").load(dir)
    def scanDesc(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.head
    val m3 = df.orderBy($"key".asc, $"ts".desc).limit(3)
    assert(scanDesc(m3).contains("perPartitionLimit=3 mixed=asc,desc"),
      s"mixed TopN must push: ${scanDesc(m3)}")
    assert(m3.select("key", "ts").as[(String, Long)].collect().toSeq ==
      Seq(("a", 3L), ("a", 2L), ("a", 1L)), "newest-first within the first key")
    // crossing a group boundary pulls the next key's newest rows
    val m5 = df.orderBy($"key".asc, $"ts".desc).limit(5)
    assert(m5.select("key", "ts").as[(String, Long)].collect().toSeq ==
      Seq(("a", 3L), ("a", 2L), ("a", 1L), ("b", 5L), ("b", 1L)))
    // LEADING-DESC mixed (newest keys first, each key's rows ASC):
    // pushed via the last-groups deque — the o10 pagination shape
    val d3 = df.orderBy($"key".desc, $"ts".asc).limit(3)
    assert(scanDesc(d3).contains("perPartitionLimit=3 mixed=desc,asc"),
      s"leading-DESC mixed TopN must push: ${scanDesc(d3)}")
    assert(d3.select("key", "ts").as[(String, Long)].collect().toSeq ==
      Seq(("z", 9L), ("n", 2L), ("b", 1L)))
    // crossing group boundaries backwards keeps within-group ASC order
    val d5 = df.orderBy($"key".desc, $"ts".asc).limit(5)
    assert(d5.select("key", "ts").as[(String, Long)].collect().toSeq ==
      Seq(("z", 9L), ("n", 2L), ("b", 1L), ("b", 5L), ("a", 1L)))
    // and the full-table read is unaffected
    assert(df.count() == 7)
  }

  test("COUNT/MIN/MAX push to metadata (sketch sidecars) in one query") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("ant", 5L, 1L, Map.empty[String, Long]), ("zebra", 1L, 2L, Map.empty[String, Long]),
      ("mango", 2L, 3L, Map.empty[String, Long])))
    table.ingest(batch(("yak", 3L, 4L, Map.empty[String, Long])))

    val df = spark.read.format("graft").load(dir)
    import org.apache.spark.sql.functions.{count => fcount, min => fmin, max => fmax}
    val agg = df.agg(fcount("*").as("n"), fmin("key").as("lo"), fmax("key").as("hi"))
    assert(agg.as[(Long, String, String)].head() == ((4L, "ant", "zebra")))
    val scan = agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.head
    assert(scan.isInstanceOf[GraftMetaAggScan],
      s"COUNT/MIN/MAX should push to metadata, got ${scan.getClass}")

    // min/max on an integral VALUE column answers from the per-file
    // stats entries (no key sketch needed)
    val aggV = df.agg(fmin("count").as("lo"), fmax("count").as("hi"))
    assert(aggV.as[(Long, Long)].head() == ((1L, 4L)))
    assert(aggV.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.head.isInstanceOf[GraftMetaAggScan])

  }

  test("SUM(integral column) pushes to sidecar sums across ingest AND compaction") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("ant", 5L, 10L, Map.empty[String, Long]), ("zebra", 1L, 20L, Map.empty[String, Long]),
      ("mango", 2L, 30L, Map.empty[String, Long])))
    table.ingest(batch(("yak", 3L, 40L, Map.empty[String, Long])))

    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.head
    import org.apache.spark.sql.functions.{sum => fsum, count => fcount}

    // value column AND sort-key column sums, alongside COUNT, one query
    val df = spark.read.format("graft").load(dir)
    val agg = df.agg(fsum("count").as("s"), fsum("ts").as("st"), fcount("*").as("n"))
    assert(agg.as[(Long, Long, Long)].head() == ((100L, 11L, 4L)))
    assert(scanOf(agg).isInstanceOf[GraftMetaAggScan],
      s"SUM should push to metadata, got ${scanOf(agg).getClass}")

    // compaction outputs carry one-pass sums (the merge-task side channel)
    table.compactAll()
    val dfc = spark.read.format("graft").load(dir)
    val aggC = dfc.agg(fsum("count").as("s"))
    assert(aggC.as[Long].head() == 100L)
    assert(scanOf(aggC).isInstanceOf[GraftMetaAggScan],
      s"post-compaction SUM should push to metadata, got ${scanOf(aggC).getClass}")

    // a WHERE keeps filters residual -> normal scan, correct
    val filtered = dfc.filter($"key" < "m").agg(fsum("count"))
    assert(filtered.as[Long].head() == 10L)
    assert(scanOf(filtered).isInstanceOf[GraftScan])

    // a missing sum entry (pre-sums sidecar) declines, never lies:
    // rewrite one file's sidecar without the sum entries
    val file = table.store.fileReferences.head
    val path = s"$dir/data/${file.physicalPartitionId}/${file.filename}"
    val trimmed = graft.meta.SketchSidecar.read(path)
      .filterNot(_._1.startsWith("__stats:")).toSeq
    graft.meta.SketchSidecar.write(path, trimmed)
    val df2 = spark.read.format("graft").load(dir)
    val agg2 = df2.agg(fsum("count"))
    assert(agg2.as[Long].head() == 100L)
    assert(scanOf(agg2).isInstanceOf[GraftScan],
      "missing sum entry must fall back to a real scan")
  }

  test("an overflowing per-file sum writes no stats entry; SUM declines") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema)
    val big = Long.MaxValue / 2
    table.ingest(batch(
      ("a", 1L, big, Map.empty[String, Long]), ("b", 2L, big, Map.empty[String, Long]),
      ("c", 3L, big, Map.empty[String, Long])))
    val file = table.store.fileReferences.head
    val path = s"$dir/data/${file.physicalPartitionId}/${file.filename}"
    val entries = graft.meta.SketchSidecar.read(path)
    assert(!entries.contains(graft.meta.SketchSidecar.sumEntryName("count")),
      "overflowed column must have no stats entry")
    // ts sums fine and keeps its entry
    assert(entries.contains(graft.meta.SketchSidecar.sumEntryName("ts")))
    val df = spark.read.format("graft").load(dir)
    import org.apache.spark.sql.functions.{sum => fsum}
    val agg = df.agg(fsum("count"))
    val scan = agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.head
    assert(scan.isInstanceOf[GraftScan],
      "SUM over the overflowed column must fall back to a real scan")
    // compaction's one-pass accumulator makes the same decision
    table.compactAll()
    val file2 = GraftTable.load(spark, dir).store.fileReferences.head
    val path2 = s"$dir/data/${file2.physicalPartitionId}/${file2.filename}"
    val entries2 = graft.meta.SketchSidecar.read(path2)
    assert(!entries2.contains(graft.meta.SketchSidecar.sumEntryName("count")))
    assert(entries2.contains(graft.meta.SketchSidecar.sumEntryName("ts")))
  }

  test("COUNT(*) is served from state-store metadata when counts are exact") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]), ("z", 1L, 2L, Map.empty[String, Long]),
      ("b", 2L, 3L, Map.empty[String, Long])))

    // AQE hides the physical scan pre-execution; the optimized logical
    // plan carries the pushed scan either way
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.head

    val df = spark.read.format("graft").load(dir)
    val counted = df.groupBy().count()
    assert(counted.as[Long].head() == 3L)
    assert(scanOf(counted).isInstanceOf[GraftMetaAggScan],
      s"COUNT(*) should push to metadata, got ${scanOf(counted).getClass}")

    // a WHERE disables the pushdown (filters are residual) but stays correct
    val filtered = df.filter($"key" < "m").groupBy().count()
    assert(filtered.as[Long].head() == 2L)
    assert(scanOf(filtered).isInstanceOf[GraftScan])

    // a metadata-only split makes counts estimates -> no pushdown, correct result
    val root2 = table.store.partitionTree.leaves.head.id
    table.store.splitPartition(root2, 0, "f", s"$root2-a", s"$root2-b")
    val df2 = spark.read.format("graft").load(dir)
    val counted2 = df2.groupBy().count()
    assert(counted2.as[Long].head() == 3L)
    assert(scanOf(counted2).isInstanceOf[GraftScan])
  }

  test("column pruning reaches the reader (narrow read schema)") {
    val dir = tmp()
    val table = GraftTable.create(spark, dir, schema, splitPoints = Nil)
    table.ingest(batch(("a", 1L, 7L, Map("k" -> 1L))))
    val df = spark.read.format("graft").load(dir).select("count")
    assert(df.as[Long].collect().toSeq == Seq(7L))
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("count"))
  }

  test("a 256-leaf tree plans in O(relevant leaves): point lookup = 1 partition, planning stays fast") {
    // The structures a 1000-executor deployment leans on — leaf pruning
    // before file listing, one input partition per RELEVANT leaf, plan
    // size independent of tree size — exercised at a leaf count where
    // accidental O(leaves) work in the planner would be visible.
    val longSchema = GraftSchema(
      rowKeys = Seq(GraftField("k", LongType)),
      sortKeys = Nil,
      values = Seq(GraftField("v", LongType)))
    val dir = tmp()
    val table = GraftTable.create(spark, dir, longSchema,
      splitPoints = (1 until 256).map(_.toLong * 100))
    table.ingest((0L until 25600L).map(i => (i, i)).toDF("k", "v"))

    val t0 = System.nanoTime()
    val lookup = spark.read.format("graft").load(dir).filter($"k" === 12345L)
    assert(lookup.as[(Long, Long)].collect().toSeq == Seq((12345L, 12345L)))
    val lookupSec = (System.nanoTime() - t0) / 1e9
    assert(scanPartitions(lookup) == 1, "a point lookup must touch exactly one leaf")

    val range = spark.read.format("graft").load(dir)
      .filter($"k" >= 1000L && $"k" < 2000L)
    assert(scanPartitions(range) == 10, "a 10-leaf range must touch exactly 10 leaves")
    assert(range.count() == 1000)

    val full = spark.read.format("graft").load(dir)
    assert(scanPartitions(full) == 256)
    assert(full.count() == 25600)

    // planning + execution of the 1-leaf lookup must not scale with the
    // 256-leaf tree (generous bound: catches O(leaves) file IO, not noise)
    assert(lookupSec < 15.0, s"point lookup took ${lookupSec}s on a 256-leaf tree")
  }
}
