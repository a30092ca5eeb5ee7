package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.query.GraftQuery
import graft.table.GraftTable

/** `GraftScan` emits exactly the rows inside its query regions on every
  * read path, reading only the pages they can touch, so the table API
  * puts no per-key predicate above it: aggregates and limits pushed into
  * the scan must still see only those rows, and lookups of different
  * keys compile to the same code.
  */
class ExactScanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val schema = GraftSchema(
    rowKeys = Seq(GraftField("k1", LongType), GraftField("k2", LongType)),
    sortKeys = Nil,
    values = Seq(GraftField("v", LongType)))

  // 200 x 300 keys, each row's value derived from its key
  private val rows: Seq[(Long, Long, Long)] =
    for (a <- 0L until 200L; b <- 0L until 300L) yield (a, b, a * 1000L + b)

  /** Two leaves split at k1 = 100, each holding two files (even and odd
    * k2, one ingest each) until compacted into one.
    */
  private def table(compact: Boolean): GraftTable = {
    val t = GraftTable.create(spark, Files.createTempDirectory("graft-exact").toString,
      schema, splitPoints = Seq(100L))
    t.ingest(rows.filter(_._2 % 2 == 0).toDF("k1", "k2", "v"))
    t.ingest(rows.filter(_._2 % 2 == 1).toDF("k1", "k2", "v"))
    if (compact) t.compactAll()
    t
  }

  private lazy val merged = table(compact = false)
  private lazy val compacted = table(compact = true)

  private def got(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("k1", "k2", "v").as[(Long, Long, Long)].collect().toSeq.sorted

  private def columnar(df: DataFrame): Seq[Boolean] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.supportsColumnar }

  private def checkExact(name: String, q: GraftQuery,
      expected: ((Long, Long, Long)) => Boolean,
      tables: (GraftTable, GraftTable) = (merged, compacted),
      deleted: Set[(Long, Long)] = Set.empty): Unit = {
    val want = rows.filter(r => expected(r) && !deleted((r._1, r._2)))
    assert(want.nonEmpty, name)
    // the relation plan, which a one-leaf point query skips for a local read
    val (rowMerge, native) = (tables._1.relationQuery(q), tables._2.relationQuery(q))
    assert(columnar(rowMerge) == Seq(false), s"$name: uncompacted leaves take the row merge")
    assert(columnar(native) == Seq(true), s"$name: compacted leaves take the columnar reader")
    assert(got(rowMerge) == want, name)
    assert(got(native) == want, name)
    assert(got(tables._1.query(q)) == want, name)
    assert(got(tables._2.query(q)) == want, name)
  }

  test("every read path returns exactly the rows in the query regions") {
    checkExact("point", GraftQuery.forKeys(schema, Seq(5L, 7L)),
      r => r._1 == 5L && r._2 == 7L)
    checkExact("half-open range across the split",
      GraftQuery.forRegions(Region(KeyRange.minMax("k1", 95L, 105L))),
      r => r._1 >= 95L && r._1 < 105L)
    checkExact("two disjoint regions", GraftQuery.forRegions(
      Region(KeyRange.minMax("k1", 10L, 12L)),
      Region(KeyRange.exact("k1", 150L), KeyRange.minMax("k2", 20L, 30L))),
      r => (r._1 >= 10L && r._1 < 12L) || (r._1 == 150L && r._2 >= 20L && r._2 < 30L))
    checkExact("region on the second row key",
      GraftQuery.forRegions(Region(KeyRange.minMax("k2", 100L, 102L))),
      r => r._2 >= 100L && r._2 < 102L)
    val batch = (0 until 40).map(i => Seq(i * 5L, (i * 37L) % 300L)).toSet
    checkExact("40-key batch", GraftQuery.forKeys(schema, batch.toSeq: _*),
      r => batch(Seq(r._1, r._2)))
  }

  test("pushed filters that turn restricted regions into a key batch stay exact") {
    // 40 points inside two k1 ranges: their bounding box also holds the
    // k1 values between the ranges, which the pushed IN alone would keep
    val q = GraftQuery.forRegions(
      Region(KeyRange.minMax("k1", 0L, 20L)), Region(KeyRange.minMax("k1", 40L, 60L)))
    val want = rows.filter(r => (r._1 < 20L || (r._1 >= 40L && r._1 < 60L)) && r._2 == 5L)
    Seq(merged, compacted).foreach { t =>
      assert(got(t.query(q).filter($"k1".isin(0L until 60L: _*) && $"k2" === 5L)) == want)
    }
  }

  test("a pending deleteKeys tombstone is applied in the same pass as the region trim") {
    val (rowMerge, native) = (table(compact = false), table(compact = true))
    val deleted = Set((96L, 3L), (96L, 4L), (103L, 299L), (150L, 0L))
    Seq(rowMerge, native).foreach(_.deleteKeys(deleted.toSeq.toDF("k1", "k2")))
    assert(native.store.tombstones.nonEmpty)
    checkExact("range with deletes", GraftQuery.forRegions(
      Region(KeyRange.minMax("k1", 95L, 105L))),
      r => r._1 >= 95L && r._1 < 105L, (rowMerge, native), deleted)
    checkExact("point next to a delete", GraftQuery.forKeys(schema, Seq(96L, 5L)),
      r => r._1 == 96L && r._2 == 5L, (rowMerge, native), deleted)
  }

  test("aggregates and limits pushed into a table-API scan see only its regions") {
    val range = GraftQuery.forRegions(Region(KeyRange.minMax("k1", 95L, 105L)))
    val point = GraftQuery.forKeys(schema, Seq(150L, 3L))
    val slice = rows.filter(r => r._1 >= 95L && r._1 < 105L)
    Seq(merged, compacted).foreach { t =>
      // the read view under GraftTable.query without the sort query() puts
      // above it, so Spark pushes aggregates and column pruning into it
      def view(q: GraftQuery): DataFrame = org.apache.spark.sql.graft.bridge.relationDataFrame(
        spark, new GraftBatchTable(t.dir, loaded = Some(t.store),
          baseRegions = q.regions.map(_.canonical)))
      Seq[GraftQuery => DataFrame](t.query, view).foreach { read =>
        assert(read(point).count() == 1)
        assert(read(range).agg(count(lit(1)), min("k1"), max("k1"), sum("v"))
          .as[(Long, Long, Long, Long)].head() ==
          ((slice.size.toLong, 95L, 104L, slice.map(_._3).sum)))
        assert(got(read(point).limit(1)) == Seq((150L, 3L, 150003L)))
        // the region's keys are pruned from this scan's projection
        assert(read(point).agg(sum("v")).as[Long].head() == 150003L)
      }
    }
  }

  test("lookups of different keys plan no filter and generate identical code") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    def filters(df: DataFrame): Seq[FilterExec] =
      df.queryExecution.executedPlan.collect { case f: FilterExec => f }
    val (a, b) = (compacted.relationQuery(GraftQuery.forKeys(schema, Seq(5L, 7L))),
      compacted.relationQuery(GraftQuery.forKeys(schema, Seq(150L, 299L))))
    assert(filters(a).isEmpty && filters(b).isEmpty, a.queryExecution.executedPlan.toString)
    val code = codegenStringSeq(a.queryExecution.executedPlan).map(_._2)
    assert(code.nonEmpty)
    assert(codegenStringSeq(b.queryExecution.executedPlan).map(_._2) == code)
    // a key batch reads its bounding box and keeps its membership filter
    val many = compacted.query(GraftQuery.forKeys(schema,
      (0 until 40).map(i => Seq(i.toLong, i.toLong)): _*))
    assert(filters(many).nonEmpty, many.queryExecution.executedPlan.toString)
  }

  test("scan metrics: a point lookup on a compacted leaf decodes part of it, emits one row") {
    val kv = GraftSchema(rowKeys = Seq(GraftField("k", LongType)), sortKeys = Nil,
      values = Seq(GraftField("v", LongType)))
    val t = GraftTable.create(spark, Files.createTempDirectory("graft-pages").toString, kv)
    val n = 60000L
    t.ingest(spark.range(0L, n).select(($"id" * 3L).as("k"), ($"id" * 7919L % 65521L).as("v")))
    t.compactAll()
    val df = t.relationQuery(GraftQuery.forKeys(kv, Seq(3L * 31000L)))
    assert(df.collect().map(_.getAs[Long]("v")).toSeq == Seq(31000L * 7919L % 65521L))
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.supportsColumnar)
    val decoded = scan.metrics(GraftScanMetrics.RowsDecoded).value
    assert(decoded > 0 && decoded < n, s"decoded $decoded of $n rows")
    assert(scan.metrics(GraftScanMetrics.RowsEmitted).value == 1)
  }

  test("local arm: lookups of different keys run no job and return the relation plan's rows") {
    Seq((5L, 7L), (150L, 299L)).foreach { case (k1, k2) =>
      val q = GraftQuery.forKeys(schema, Seq(k1, k2))
      val (local, jobs) = graft.TestSpark.jobsRun(got(compacted.lookup(k1, k2)))
      assert(jobs == 0, s"($k1, $k2)")
      assert(local == got(compacted.relationQuery(q)))
      assert(local == Seq((k1, k2, k1 * 1000L + k2)))
    }
  }

  test("local arm scan metrics: a point lookup on a compacted leaf decodes part of it, emits one row") {
    val kv = GraftSchema(rowKeys = Seq(GraftField("k", LongType)), sortKeys = Nil,
      values = Seq(GraftField("v", LongType)))
    val t = GraftTable.create(spark, Files.createTempDirectory("graft-pages").toString, kv)
    val n = 60000L
    t.ingest(spark.range(0L, n).select(($"id" * 3L).as("k"), ($"id" * 7919L % 65521L).as("v")))
    t.compactAll()
    val (vs, jobs) = graft.TestSpark.jobsRun(
      t.lookup(3L * 31000L).collect().map(_.getAs[Long]("v")).toSeq)
    assert(vs == Seq(31000L * 7919L % 65521L))
    assert(jobs == 0)
    val regions = GraftQuery.forKeys(kv, Seq(3L * 31000L)).regions.map(_.canonical)
    val view = new GraftBatchTable(t.dir, loaded = Some(t.store), baseRegions = regions)
    val d = LocalPointScan.decide(view, regions, view.schema())
    assert(d.arm == "local" && d.inputPartitions.contains(1))
    assert(d.rowsDecoded > 0 && d.rowsDecoded < n, s"decoded ${d.rowsDecoded} of $n rows")
    assert(d.rowsRead == 1)
  }
}
