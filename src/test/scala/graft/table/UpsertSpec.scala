package graft.table

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.jobs.{Compaction, CompactionJob, BasicCompactionStrategy, SizeRatioCompactionStrategy}

/** Last-write-wins (upsert) tables: aggregationConfig `last(col)` with
  * write-generation sequencing (FileReference.seq). Both read paths must
  * resolve to the newest write, compaction must converge to the same
  * rows, and partial compactions must be seq-contiguous.
  */
class UpsertSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val schema = GraftSchema(
    rowKeys = Seq(GraftField("id", LongType)),
    sortKeys = Nil,
    values = Seq(GraftField("v", LongType, nullable = false)))

  private def tmp() = Files.createTempDirectory("graft-upsert").toString

  private def lwwTable(dir: String, splitPoints: Seq[Any] = Seq(50L)): GraftTable =
    GraftTable.create(spark, dir, schema, splitPoints,
      config = TableConfig(aggregationConfig = "last(v)"))

  private def readBoth(table: GraftTable, dir: String): (Map[Long, Long], Map[Long, Long]) = {
    val q = table.toDF.select("id", "v").as[(Long, Long)].collect().toMap
    val d = spark.read.format("graft").load(dir)
      .select("id", "v").as[(Long, Long)].collect().toMap
    (q, d)
  }

  test("newest ingest wins on both read paths; compaction converges to the same rows") {
    val dir = tmp()
    val table = lwwTable(dir)
    table.ingest((0L until 100L).map(i => (i, i)).toDF("id", "v"))
    // second generation updates the even keys
    table.ingest((0L until 100L by 2).map(i => (i, i + 1000L)).toDF("id", "v"))
    val expect = (0L until 100L).map(i => i -> (if (i % 2 == 0) i + 1000L else i)).toMap

    val (q, d) = readBoth(table, dir)
    assert(q == expect, "query path")
    assert(d == expect, "DSv2 merge path")

    table.compactAll()
    val (q2, d2) = readBoth(table, dir)
    assert(q2 == expect && d2 == expect, "post-compaction")
    // converged: one file per occupied leaf, carrying max input seq
    assert(table.store.fileReferences.forall(_.seq > 0L))
  }

  test("LWW read attaches seq as a file-constant column: no join in the plan") {
    val dir = tmp()
    val table = lwwTable(dir)
    table.ingest((0L until 100L).map(i => (i, i)).toDF("id", "v"))
    table.ingest((0L until 100L by 2).map(i => (i, i + 1000L)).toDF("id", "v"))
    val plan = table.toDF.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"few-generation LWW scan must not join a filename→seq map:\n$plan")
    // and the result is still LWW-correct
    val got = table.toDF.select("id", "v").as[(Long, Long)].collect().toMap
    assert(got == (0L until 100L).map(i =>
      i -> (if (i % 2 == 0) i + 1000L else i)).toMap)
  }

  test("many pending generations resolve in the merge, same answer") {
    val dir = tmp()
    val table = lwwTable(dir, splitPoints = Nil)
    (1L to 35L).foreach(g => table.ingest(Seq((1L, g), (2L, g * 10)).toDF("id", "v")))
    val plan = table.toDF.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s">32 generations must still resolve inside the scan's merge:\n$plan")
    val got = table.toDF.select("id", "v").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 35L, 2L -> 350L))
  }

  test("an update ingested AFTER a compaction still wins (output seq = max inputs)") {
    val dir = tmp()
    val table = lwwTable(dir)
    table.ingest((0L until 10L).map(i => (i, 1L)).toDF("id", "v"))
    table.ingest((0L until 10L).map(i => (i, 2L)).toDF("id", "v"))
    table.compactAll()
    table.ingest((0L until 10L).map(i => (i, 3L)).toDF("id", "v"))
    val (q, d) = readBoth(table, dir)
    assert(q.values.toSet == Set(3L) && d.values.toSet == Set(3L))
    table.compactAll()
    val (q2, d2) = readBoth(table, dir)
    assert(q2.values.toSet == Set(3L) && d2.values.toSet == Set(3L))
  }

  test("LWW survives reload and time travel reads historic values") {
    val dir = tmp()
    val t0 = lwwTable(dir)
    t0.ingest((0L until 5L).map(i => (i, 10L)).toDF("id", "v"))
    val v1 = t0.store.asInstanceOf[graft.meta.JsonStateStore].currentVersion
    t0.ingest((0L until 5L).map(i => (i, 20L)).toDF("id", "v"))

    val reloaded = GraftTable.load(spark, dir)
    assert(reloaded.toDF.select("v").as[Long].collect().toSet == Set(20L))
    assert(reloaded.store.fileReferences.map(_.seq).toSet == Set(1L, 2L))

    val asOf = GraftTable.loadAsOf(spark, dir, v1)
    assert(asOf.toDF.select("v").as[Long].collect().toSet == Set(10L))
  }

  test("BasicCompactionStrategy batches are seq-contiguous; gapped jobs are refused") {
    val dir = tmp()
    val table = lwwTable(dir, splitPoints = Nil)
    (1 to 4).foreach(g =>
      table.ingest((0L until 10L).map(i => (i, g.toLong)).toDF("id", "v")))
    val refs = table.store.fileReferences.sortBy(_.seq)
    assert(refs.map(_.seq) == Seq(1L, 2L, 3L, 4L))

    // a gapped selection (1st and 3rd generation) must be refused
    val gapped = CompactionJob(refs.head.partitionId, Seq(refs(0), refs(2)))
    val ex = intercept[IllegalArgumentException] {
      new Compaction(table).run(gapped)
    }
    assert(ex.getMessage.contains("seq-contiguous"))

    // a contiguous prefix is fine and preserves LWW
    new Compaction(table).run(CompactionJob(refs.head.partitionId, Seq(refs(0), refs(1))))
    assert(table.toDF.select("v").as[Long].collect().toSet == Set(4L))
    // strategy-planned batches (seq order) work end to end
    table.compact(BasicCompactionStrategy(batchSize = 2))
    assert(table.toDF.select("v").as[Long].collect().toSet == Set(4L))
  }

  test("deletes compose with LWW: tombstone suppresses every generation") {
    val dir = tmp()
    val table = lwwTable(dir)
    table.ingest((0L until 10L).map(i => (i, 1L)).toDF("id", "v"))
    table.ingest((0L until 10L).map(i => (i, 2L)).toDF("id", "v"))
    table.deleteKeys(Seq(3L, 4L).toDF("id"))
    val (q, d) = readBoth(table, dir)
    assert(q.keySet == ((0L until 10L).toSet -- Set(3L, 4L)) && q == d)
    table.compactAll()
    val (q2, _) = readBoth(table, dir)
    assert(q2.keySet == ((0L until 10L).toSet -- Set(3L, 4L)))
  }

  test("delete then re-upsert: the newer generation shadows the delete marker") {
    val dir = tmp()
    val table = lwwTable(dir)
    table.ingest((0L until 10L).map(i => (i, 1L)).toDF("id", "v"))   // gen 1
    table.deleteKeys(Seq(3L, 4L).toDF("id"))                         // gen 2 (marker)
    table.ingest(Seq((3L, 33L)).toDF("id", "v"))                     // gen 3
    val expect = (0L until 10L).filterNot(_ == 4L)
      .map(i => i -> (if (i == 3L) 33L else 1L)).toMap
    val (q, d) = readBoth(table, dir)
    assert(q == expect, "query path (pending marker)")
    assert(d == expect, "DSv2 merge path (pending marker)")
    table.compactAll()
    assert(table.store.tombstones.isEmpty)
    val (q2, d2) = readBoth(table, dir)
    assert(q2 == expect && d2 == expect, "post-compaction")
  }

  test("streaming micro-batches are write generations: later batches win") {
    val dir = tmp()
    val table = lwwTable(dir)
    val inbox = Files.createTempDirectory("graft-upsert-inbox").toString
    val cp = Files.createTempDirectory("graft-upsert-cp").toString
    val ingest = new graft.streaming.StreamingIngest(table, inbox, cp)

    def drop(name: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      val stage = Files.createTempDirectory("graft-upsert-stage")
      batch.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val it = Files.list(stage).iterator()
      var part: java.nio.file.Path = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) part = p
      }
      Files.move(part, java.nio.file.Paths.get(inbox, name))
    }

    drop("b1.parquet", (0L until 10L).map(i => (i, 1L)).toDF("id", "v"))
    assert(ingest.runOnce() == 1)
    drop("b2.parquet", (0L until 10L by 2).map(i => (i, 2L)).toDF("id", "v"))
    assert(ingest.runOnce() == 1)

    val expect = (0L until 10L).map(i => i -> (if (i % 2 == 0) 2L else 1L)).toMap
    val (q, d) = readBoth(table, dir)
    assert(q == expect && d == expect,
      "micro-batch commit order must define last-write-wins order")
    // each micro-batch commit got its own generation
    assert(table.store.fileReferences.map(_.seq).toSet == Set(1L, 2L))
  }

  test("nullable last column: a newer explicit null overwrites on both paths") {
    val dir = tmp()
    val nullableSchema = GraftSchema(
      rowKeys = Seq(GraftField("id", LongType)), sortKeys = Nil,
      values = Seq(GraftField("v", StringType, nullable = true)))
    val table = GraftTable.create(spark, dir, nullableSchema, splitPoints = Seq(5L),
      config = TableConfig(aggregationConfig = "last(v)"))
    table.ingest((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    // gen 2: null out the even keys, update key 1
    table.ingest(
      ((0L until 10L by 2).map(i => (i, null: String)) :+ (1L, "one"))
        .toDF("id", "v"))
    val expect = (0L until 10L).map(i =>
      i -> (if (i % 2 == 0) null else if (i == 1L) "one" else s"v$i")).toMap

    def read(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("id", "v").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(read(table.toDF) == expect, "query path (max_by keeps the null winner)")
    assert(read(spark.read.format("graft").load(dir)) == expect,
      "merge path (newer null overwrites, no resurrect)")
    table.compactAll()
    assert(read(table.toDF) == expect && read(spark.read.format("graft").load(dir)) == expect)
  }

  test("mixed config: sum column accumulates while last column upserts") {
    val dir = tmp()
    val mixed = GraftSchema(
      rowKeys = Seq(GraftField("id", LongType)), sortKeys = Nil,
      values = Seq(GraftField("n", LongType, nullable = false),
        GraftField("status", StringType, nullable = false)))
    val table = GraftTable.create(spark, dir, mixed,
      config = TableConfig(aggregationConfig = "sum(n),last(status)"))
    table.ingest((0L until 10L).map(i => (i, 1L, "open")).toDF("id", "n", "status"))
    table.ingest((0L until 10L).map(i => (i, 1L, "closed")).toDF("id", "n", "status"))
    val q = table.toDF.select("id", "n", "status").as[(Long, Long, String)].collect()
    assert(q.forall { case (_, n, s) => n == 2L && s == "closed" })
    val d = spark.read.format("graft").load(dir)
      .select("n", "status").as[(Long, String)].collect()
    assert(d.forall { case (n, s) => n == 2L && s == "closed" })
    table.compactAll()
    assert(table.toDF.select("n", "status").as[(Long, String)].collect()
      .forall { case (n, s) => n == 2L && s == "closed" })
  }
}
