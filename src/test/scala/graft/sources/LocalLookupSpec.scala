package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.jobsRun
import graft.core._
import graft.query.GraftQuery
import graft.table.{GraftTable, TableConfig}

/** Which arm `GraftTable.query` takes: a point scan of one input
  * partition is read on the driver by the scan's own readers and
  * collects with no Spark job; every other scan runs as a job. Each
  * local case returns exactly the rows of the relation plan (the job
  * arm) over the same regions.
  */
class LocalLookupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val schema = GraftSchema(
    rowKeys = Seq(GraftField("k", LongType)),
    sortKeys = Nil,
    values = Seq(GraftField("v", LongType)))

  private def tmp() = Files.createTempDirectory("graft-local").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** `query(q)` runs no job and returns the relation plan's rows, which
    * must be `want`.
    */
  private def checkLocal(name: String, t: GraftTable, q: GraftQuery, want: Seq[Row]): Unit = {
    val (got, jobs) = jobsRun(rows(t.query(q)))
    assert(jobs == 0, s"$name: the local arm runs no job")
    assert(got == rows(t.relationQuery(q)), name)
    assert(got == want, name)
    assert(t.query(q).queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty,
      s"$name: ${t.query(q).queryExecution.executedPlan}")
  }

  private def point(s: GraftSchema, key: Any*): GraftQuery = GraftQuery.forKeys(s, key)

  test("a compacted leaf is read by the columnar reader on the driver") {
    val t = GraftTable.create(spark, tmp(), schema, splitPoints = Seq(500L))
    t.ingest((0L until 1000L).map(i => (i, i * 10L)).toDF("k", "v"))
    t.compactAll()
    checkLocal("compacted", t, point(schema, 42L), Seq(Row(42L, 420L)))
    checkLocal("compacted, right leaf", t, point(schema, 777L), Seq(Row(777L, 7770L)))
    checkLocal("absent key", t, point(schema, 5000L), Nil)
    checkLocal("two keys in one leaf", t,
      GraftQuery.forKeys(schema, Seq(3L), Seq(1L)), Seq(Row(1L, 10L), Row(3L, 30L)))
  }

  test("an uncompacted leaf of overlapping runs is merged on the driver") {
    val t = GraftTable.create(spark, tmp(), schema,
      config = TableConfig(aggregationConfig = "sum(v)"))
    (1 to 3).foreach(r => t.ingest((0L until 300L by r.toLong).map(i => (i, r.toLong)).toDF("k", "v")))
    assert(t.store.fileReferences.size >= 3)
    checkLocal("three runs", t, point(schema, 6L), Seq(Row(6L, 6L)))
    checkLocal("two runs", t, point(schema, 4L), Seq(Row(4L, 3L)))
    checkLocal("one run", t, point(schema, 7L), Seq(Row(7L, 1L)))
  }

  test("a pending deleteKeys tombstone hides the key on the local read") {
    val t = GraftTable.create(spark, tmp(), schema)
    t.ingest((0L until 1000L).map(i => (i, i)).toDF("k", "v"))
    t.compactAll()
    t.deleteKeys(Seq(41L, 43L).toDF("k"))
    assert(t.store.tombstones.nonEmpty)
    checkLocal("deleted", t, point(schema, 41L), Nil)
    checkLocal("between deletes", t, point(schema, 42L), Seq(Row(42L, 42L)))
  }

  test("a post-split shared reference is clipped to the leaf read") {
    val t = GraftTable.create(spark, tmp(), schema, splitPoints = Seq(100L))
    t.ingest((0L until 200L).map(i => (i, i)).toDF("k", "v"))
    // metadata-only split of the right leaf: its file now sits on a
    // non-leaf partition, shared by both new leaves
    val right = t.store.partitionTree.leaves.find(_.region.ranges.head.min.contains(100L)).get
    t.store.splitPartition(right.id, 0, 150L, s"${right.id}-a", s"${right.id}-b")
    assert(t.store.fileReferences.exists(r => !t.store.partitionTree(r.partitionId).isLeaf))
    checkLocal("left of the split", t, point(schema, 120L), Seq(Row(120L, 120L)))
    checkLocal("right of the split", t, point(schema, 170L), Seq(Row(170L, 170L)))
  }

  test("a table transform, a query transform and postSql apply above the local rows") {
    val s = GraftSchema(rowKeys = Seq(GraftField("k", LongType)), sortKeys = Nil,
      values = Seq(GraftField("v", LongType), GraftField("vis", StringType)))
    val t = GraftTable.create(spark, tmp(), s,
      config = TableConfig(transformConfig = "graft.transforms.SecurityFilter{vis,public}"))
    t.ingest((0L until 100L).map(i => (i, i, if (i % 2 == 0) "public" else "secret"))
      .toDF("k", "v", "vis"))
    t.compactAll()
    val q = point(s, 10L).copy(requestedValueFields = Some(Seq("v")),
      queryTransformConfig = Some("graft.transforms.CapValue{v,5}"),
      postSql = Some("SELECT k, v * 2 AS v2 FROM query_results"))
    checkLocal("visible", t, q, Seq(Row(10L, 10L)))
    checkLocal("hidden", t, point(s, 11L).copy(postSql = q.postSql), Nil)
  }

  test("a key past the row cap falls back to the job arm and returns every row") {
    val s = GraftSchema(rowKeys = Seq(GraftField("k", LongType)),
      sortKeys = Seq(GraftField("s", LongType)), values = Seq(GraftField("v", LongType)))
    val t = GraftTable.create(spark, tmp(), s)
    val n = LocalPointScan.MaxRows + 10
    t.ingest(((0L until n.toLong).map(i => (7L, i, i)) ++ Seq((8L, 0L, 1L))).toDF("k", "s", "v"))
    t.compactAll()
    val q = point(s, 7L)
    val (got, jobs) = jobsRun(t.query(q).select("s").as[Long].collect().toSeq)
    assert(jobs >= 1)
    assert(got.sorted == (0L until n.toLong))
    val regions = q.regions.map(_.canonical)
    val view = new GraftBatchTable(t.dir, loaded = Some(t.store), baseRegions = regions)
    val d = LocalPointScan.decide(view, regions, view.schema())
    assert(d.arm == "cap-fallback" && d.rows.isEmpty && d.rowsRead == LocalPointScan.MaxRows + 1)
    // a key under the cap in the same table stays local
    checkLocal("under the cap", t, point(s, 8L), Seq(Row(8L, 0L, 1L)))
  }

  test("a multi-leaf range, a two-leaf key list and toDF plan a GraftScan job") {
    val t = GraftTable.create(spark, tmp(), schema, splitPoints = Seq(500L))
    t.ingest((0L until 1000L).map(i => (i, i)).toDF("k", "v"))
    t.compactAll()
    def graftScans(df: DataFrame): Seq[BatchScanExec] =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }
    val range = t.query(GraftQuery.forRegions(Region(KeyRange.minMax("k", 490L, 510L))))
    val twoLeaves = t.query(GraftQuery.forKeys(schema, Seq(1L), Seq(999L)))
    Seq(range, twoLeaves, t.toDF).foreach { df =>
      assert(graftScans(df).size == 1, df.queryExecution.executedPlan.toString)
      assert(df.queryExecution.executedPlan.collect { case l: LocalTableScanExec => l }.isEmpty)
    }
    val (got, jobs) = jobsRun(range.select("k").as[Long].collect().toSeq)
    assert(jobs >= 1)
    assert(got == (490L until 510L))
    assert(twoLeaves.select("k").as[Long].collect().toSeq.sorted == Seq(1L, 999L))
  }
}
