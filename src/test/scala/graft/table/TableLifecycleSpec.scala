package graft.table

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.jobs.{BasicCompactionStrategy, SizeRatioCompactionStrategy}
import graft.query.GraftQuery

/** End-to-end table lifecycle: ingest -> query -> compact -> split -> GC,
  * mirroring the reference's QueryExecutorTest / compaction_test.rs
  * behavioral suite.
  */
class TableLifecycleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val schema = GraftSchema(
    rowKeys = Seq(GraftField("key", StringType)),
    sortKeys = Seq(GraftField("ts", LongType)),
    values = Seq(GraftField("count", LongType), GraftField("m", MapType(StringType, LongType))))

  private val aggConfig = TableConfig(aggregationConfig = "sum(count),map_sum(m)")

  private def tmp() = Files.createTempDirectory("graft-table").toString

  private def batch(rows: (String, Long, Long, Map[String, Long])*) =
    rows.toDF("key", "ts", "count", "m")

  test("ingest writes one sorted file per leaf partition with sketches, and queries read back") {
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq("m"))
    val refs = table.ingest(batch(
      ("apple", 1L, 2L, Map("x" -> 1L)),
      ("zebra", 1L, 5L, Map("y" -> 2L)),
      ("mango", 2L, 3L, Map.empty[String, Long])))
    assert(refs.map(_.partitionId).distinct.size == 2) // both leaves hit
    assert(refs.map(_.rowCount).sum == 3)
    refs.foreach(r => assert(graft.meta.SketchSidecar.exists(table.pathOf(r))))

    val all = table.toDF.select("key").as[String].collect().toSet
    assert(all == Set("apple", "zebra", "mango"))

    // region query prunes to one leaf and clips rows
    val q = GraftQuery.forRegions(Region(KeyRange.minMax("key", "a", "c")))
    assert(table.query(q).select("key").as[String].collect().toSeq == Seq("apple"))
  }

  test("salt sizing: small leaves stay one run; big leaves use cores and cap run size") {
    import graft.jobs.Ingest
    assert(Ingest.saltFor(Ingest.MinSaltedLeafBytes - 1, cpus = 32, numLeaves = 4) == 1)
    assert(Ingest.saltFor(2L * 1024 * 1024, cpus = 32, numLeaves = 4) == 8)
    assert(Ingest.saltFor(2L * 1024 * 1024, cpus = 32, numLeaves = 64) == 1)
    // spill bound dominates when leaves outgrow it even on a busy cluster
    assert(Ingest.saltFor(10L * Ingest.MaxRunBytes, cpus = 32, numLeaves = 64) == 10)
    // one ingest never exceeds the compaction batch: the merge side must
    // be able to fold a whole ingest's runs in ONE compaction round
    assert(Ingest.saltFor(100L * Ingest.MaxRunBytes, cpus = 32, numLeaves = 4,
      maxSalt = 11) == 11)
    // the experiment override pins the salt regardless of sizing
    System.setProperty("graft.ingest.max.salt", "1")
    try assert(Ingest.saltFor(100L * Ingest.MaxRunBytes, cpus = 32, numLeaves = 4) == 1)
    finally System.clearProperty("graft.ingest.max.salt")
  }

  test("a salted ingest writes several sorted runs per leaf and queries/aggregates exactly") {
    // big enough that the Catalyst size estimate exceeds the per-leaf
    // salt floor — the ingest must split each leaf into multiple sorted
    // runs (cores > leaves) and remain result-identical
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq("m"),
      config = aggConfig)
    val n = 200000
    val src = spark.range(n.toLong).selectExpr(
      "format_string('k%07d', id % 50000) AS key",
      "CAST(1 AS LONG) AS ts",
      "CAST(1 AS LONG) AS count",
      "map('x', id) AS m")
    val refs = table.ingest(src)
    val runsPerLeaf = refs.groupBy(_.partitionId).map(_._2.size)
    assert(runsPerLeaf.forall(_ > 1), s"expected salted runs, got $runsPerLeaf")
    refs.foreach(r => assert(graft.meta.SketchSidecar.exists(table.pathOf(r))))
    // the continual aggregation view must merge key-equal rows across
    // ALL of a leaf's runs: 50k distinct keys, count = 4 each — any
    // unsorted run or missed merge breaks one of these
    val agg = table.toDF.selectExpr("count(*) AS rows", "sum(count) AS total").head()
    assert(agg.getLong(0) == 50000L && agg.getLong(1) == n.toLong)
    val q = GraftQuery.forRegions(Region(KeyRange.minMax("key", "k0000000", "k0000010")))
    assert(table.query(q).count() == 10L)
  }

  test("query applies persistent aggregation before results (continual aggregation view)") {
    val table = GraftTable.create(spark, tmp(), schema, config = aggConfig)
    table.ingest(batch(("a", 1L, 2L, Map("x" -> 1L))))
    table.ingest(batch(("a", 1L, 3L, Map("x" -> 4L, "z" -> 1L))))
    val rows = table.toDF.as[(String, Long, Long, Map[String, Long])].collect()
    assert(rows.length == 1)
    assert(rows.head == (("a", 1L, 5L, Map("x" -> 5L, "z" -> 1L))))
  }

  test("compactAll merges key-equal rows physically and preserves query results") {
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq("m"), config = aggConfig)
    table.ingest(batch(("a", 1L, 1L, Map("x" -> 1L)), ("n", 1L, 10L, Map.empty[String, Long])))
    table.ingest(batch(("a", 1L, 2L, Map("y" -> 1L)), ("a", 2L, 7L, Map.empty[String, Long])))
    val before = table.toDF.orderBy("key", "ts").as[(String, Long, Long, Map[String, Long])].collect()

    table.compactAll()

    // one file per leaf now
    val byLeaf = table.store.fileReferences.groupBy(_.partitionId)
    assert(byLeaf.values.forall(_.size == 1))
    val after = table.toDF.orderBy("key", "ts").as[(String, Long, Long, Map[String, Long])].collect()
    assert(after.sameElements(before))
    assert(after.toSeq == Seq(
      ("a", 1L, 3L, Map("x" -> 1L, "y" -> 1L)),
      ("a", 2L, 7L, Map.empty[String, Long]),
      ("n", 1L, 10L, Map.empty[String, Long])))
    // old files queued for GC
    assert(table.store.unreferencedFiles.nonEmpty)
  }

  test("concurrent strategy jobs across many leaves commit without conflicts") {
    val table = GraftTable.create(spark, tmp(), schema,
      splitPoints = Seq("f", "m", "t"), config = aggConfig)
    def rows(off: Int) = batch(
      ("a", off.toLong, 1L, Map.empty[String, Long]), ("g", off.toLong, 2L, Map.empty[String, Long]),
      ("n", off.toLong, 3L, Map.empty[String, Long]), ("x", off.toLong, 4L, Map.empty[String, Long]))
    table.ingest(rows(1))
    table.ingest(rows(2))
    val before = table.toDF.orderBy("key", "ts")
      .as[(String, Long, Long, Map[String, Long])].collect().toSeq

    // 4 leaves x 2 files -> 4 jobs, run concurrently
    val n = new graft.jobs.Compaction(table).runStrategy(BasicCompactionStrategy(), parallelism = 4)
    assert(n == 4)
    assert(table.store.fileReferences.groupBy(_.partitionId).values.forall(_.size == 1))
    val after = table.toDF.orderBy("key", "ts")
      .as[(String, Long, Long, Map[String, Long])].collect().toSeq
    assert(after == before)
  }

  test("a pre-split ref is clipped to its leaf; other regions unaffected") {
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq("m"))
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]), ("x", 1L, 2L, Map.empty[String, Long])))
    // metadata-only split of the right leaf (no splitFileReferences): its
    // ref now sits on a NON-leaf partition
    val tree = table.store.partitionTree
    val right = tree.leaves.find(_.region.ranges.head.min.contains("m")).get
    table.store.splitPartition(right.id, 0, "t", s"${right.id}-a", s"${right.id}-b")

    // untouched left region
    val qLeft = table.query(GraftQuery.forRegions(Region(Seq(KeyRange.minMax("key", "a", "c")))))
    assert(qLeft.select("key").as[String].collect().toSeq == Seq("a"))

    // the split branch reads the parent's file clipped to the selected leaf
    val qRight = table.query(GraftQuery.forRegions(Region(Seq(KeyRange.minMax("key", "u", "z")))))
    assert(qRight.select("key").as[String].collect().toSeq == Seq("x"))
    // both new leaves share that file; its row lands in exactly one
    assert(table.toDF.select("key").as[String].collect().sorted.toSeq == Seq("a", "x"))
  }

  test("strategy-driven partition compaction matches whole-table compaction (order independence)") {
    def build(): GraftTable = {
      val t = GraftTable.create(spark, tmp(), schema, config = aggConfig)
      t.ingest(batch(("a", 1L, 1L, Map("x" -> 1L))))
      t.ingest(batch(("a", 1L, 2L, Map("x" -> 10L))))
      t.ingest(batch(("b", 1L, 4L, Map.empty[String, Long])))
      t.ingest(batch(("a", 1L, 8L, Map("y" -> 2L))))
      t
    }
    val t1 = build(); t1.compactAll()
    val t2 = build()
    // compact in stages of 2 files (partial compactions in arbitrary order)
    var jobs = t2.compact(BasicCompactionStrategy(batchSize = 2))
    while (jobs > 0) jobs = t2.compact(BasicCompactionStrategy(batchSize = 2))
    val r1 = t1.toDF.orderBy("key", "ts").as[(String, Long, Long, Map[String, Long])].collect().toSeq
    val r2 = t2.toDF.orderBy("key", "ts").as[(String, Long, Long, Map[String, Long])].collect().toSeq
    assert(r1 == r2)
    assert(r1 == Seq(("a", 1L, 11L, Map("x" -> 11L, "y" -> 2L)), ("b", 1L, 4L, Map.empty[String, Long])))
  }

  test("size-ratio strategy only compacts when the ratio condition holds") {
    val small = Map(
      "p" -> Seq(
        graft.meta.FileReference("f1", "p", 10),
        graft.meta.FileReference("f2", "p", 12),
        graft.meta.FileReference("f3", "p", 100)))
    // 10+12 < 3*100 -> no job including f3; but {f1,f2}: 10 >= 3*12 false -> none
    assert(SizeRatioCompactionStrategy(ratio = 3).plan(small).isEmpty)
    val ok = Map(
      "p" -> Seq(
        graft.meta.FileReference("f1", "p", 50),
        graft.meta.FileReference("f2", "p", 60),
        graft.meta.FileReference("f3", "p", 30)))
    // sorted: 30,50,60 -> 30+50=80 >= 3*60? no... ratio 1: 80 >= 60 yes
    assert(SizeRatioCompactionStrategy(ratio = 1).plan(ok).nonEmpty)
  }

  test("ageOff filter removes expired rows at query time and permanently at compaction") {
    val now = System.currentTimeMillis()
    val config = TableConfig(filterConfig = s"ageOff(ts,60000)") // keep last minute
    val table = GraftTable.create(spark, tmp(), schema, config = config)
    table.ingest(batch(
      ("old", now - 120000L, 1L, Map.empty[String, Long]),
      ("new", now - 1000L, 1L, Map.empty[String, Long])))
    assert(table.toDF.select("key").as[String].collect().toSeq == Seq("new"))
    table.compactAll()
    // physically gone: read the raw file without the query-time filter
    val raw = spark.read.parquet(table.store.fileReferences.map(table.pathOf): _*)
    assert(raw.select("key").as[String].collect().toSeq == Seq("new"))
  }

  test("partition split at sketch median redistributes file references, then compaction localizes files") {
    val config = TableConfig(splitThreshold = 50)
    val table = GraftTable.create(spark, tmp(), schema, config = config)
    val rows = (0 until 200).map(i => (f"key$i%03d", 1L, 1L, Map.empty[String, Long]))
    table.ingest(rows.toDF("key", "ts", "count", "m"))
    assert(table.store.partitionTree.leaves.size == 1)

    val splitIds = table.splitPartitions()
    assert(splitIds.nonEmpty)
    val leaves = table.store.partitionTree.leaves
    assert(leaves.size >= 2)
    // all refs now sit on leaves
    assert(table.store.fileReferences.forall(r => table.store.partitionTree(r.partitionId).isLeaf))

    // queries still see everything exactly once
    assert(table.toDF.count() == 200)
    val some = table.query(GraftQuery.forRegions(
      Region(KeyRange.minMax("key", "key050", "key060")))).count()
    assert(some == 10)

    // compaction rewrites shared files into per-leaf files
    table.compactAll()
    val refs = table.store.fileReferences
    assert(refs.map(_.filename).distinct.size == leaves.size)
    assert(table.toDF.count() == 200)
  }

  test("garbage collection deletes unreferenced files after the delay") {
    val table = GraftTable.create(spark, tmp(), schema,
      config = TableConfig(gcDelayMinutes = 0, aggregationConfig = "sum(count),map_sum(m)"))
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long])))
    table.ingest(batch(("a", 1L, 2L, Map.empty[String, Long])))
    table.compactAll()
    val doomed = table.store.unreferencedFiles.map(_.filename)
    assert(doomed.size == 2)
    val deleted = table.collectGarbage(System.currentTimeMillis() + 1000)
    assert(deleted.toSet == doomed.toSet)
    assert(table.store.unreferencedFiles.isEmpty)
    assert(table.toDF.count() == 1) // survivors intact
  }

  test("metrics reflect the state store") {
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq("m"))
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long]), ("z", 1L, 1L, Map.empty[String, Long])))
    val m = table.metrics
    assert(m.fileCount == 2 && m.rowCount == 2)
    assert(m.partitionCount == 3 && m.leafPartitionCount == 2)
  }

  test("projection keeps keys and requested value fields only") {
    val table = GraftTable.create(spark, tmp(), schema)
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long])))
    val df = table.query(GraftQuery(requestedValueFields = Some(Seq("count"))))
    assert(df.columns.toSeq == Seq("key", "ts", "count"))
  }

  test("query-time transform and SELECT-only SQL post-stage") {
    val table = GraftTable.create(spark, tmp(), schema)
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long]), ("b", 1L, 5L, Map.empty[String, Long])))
    val q = GraftQuery(
      queryTimeTransform = Some(df => df.filter(df("count") > 1)),
      postSql = Some("SELECT key, count * 2 AS c2 FROM query_results"))
    val got = table.query(q).as[(String, Long)].collect().toSeq
    assert(got == Seq(("b", 10L)))
    intercept[IllegalArgumentException] {
      table.query(GraftQuery(postSql = Some("DROP TABLE query_results"))).collect()
    }
  }

  test("bulk export writes the whole table") {
    val table = GraftTable.create(spark, tmp(), schema)
    table.ingest(batch(("a", 1L, 1L, Map.empty[String, Long])))
    val out = tmp() + "/export"
    table.export(out)
    assert(spark.read.parquet(out).count() == 1)
  }

  test("compaction of a fully aged-off partition commits an empty output (no loop)") {
    val s2 = GraftSchema(
      rowKeys = Seq(GraftField("k", StringType)),
      sortKeys = Nil,
      values = Seq(GraftField("ts", LongType)))
    val table = GraftTable.create(spark, tmp(), s2,
      config = TableConfig(filterConfig = "ageOff(ts,1000)"))
    table.ingest(Seq(("a", 5L), ("b", 6L)).toDF("k", "ts")) // ancient → all filtered
    table.ingest(Seq(("c", 7L)).toDF("k", "ts"))
    table.compactAll()
    val refs = table.store.fileReferences
    assert(refs.size == 1 && refs.head.rowCount == 0, s"refs=$refs")
    assert(table.toDF.count() == 0)
    // and it doesn't look like pending work next cycle
    table.compactAll()
    assert(table.store.fileReferences.size == 1)
  }

  test("binary row keys: ingest, unsigned split routing, query, compaction") {
    val s2 = GraftSchema(
      rowKeys = Seq(GraftField("k", BinaryType)),
      sortKeys = Nil,
      values = Seq(GraftField("n", LongType)))
    // split at 0x80: unsigned order puts 0xff on the right, 0x01 left
    val table = GraftTable.create(spark, tmp(), s2, splitPoints = Seq(Array[Byte](-128)))
    val rows = Seq(
      (Array[Byte](0x01), 1L), (Array[Byte](0x7f), 2L),
      (Array[Byte](-128), 3L), (Array[Byte](-1), 4L)) // 0x80, 0xff
    table.ingest(rows.toDF("k", "n"))
    val byLeaf = table.store.fileReferences.groupBy(_.partitionId)
    assert(byLeaf.size == 2, s"both leaves hit: $byLeaf")

    // range query over the unsigned upper half
    val q = GraftQuery.forRegions(Region(KeyRange.atLeast("k", Array[Byte](-128))))
    assert(table.query(q).select("n").as[Long].collect().toSet == Set(3L, 4L))

    // exact lookup on a high byte
    assert(table.lookup(Array[Byte](-1)).select("n").as[Long].collect().toSeq == Seq(4L))

    table.ingest(Seq((Array[Byte](0x7f), 10L)).toDF("k", "n"))
    table.compactAll()
    assert(table.toDF.count() == 5)
  }

  test("supplementary-plane string keys route consistently (UTF-8 vs UTF-16 order)") {
    val emoji = "😀" // U+1F600: sorts above U+FFFF in UTF-8, below in UTF-16
    val bmpHigh = "�" // U+FFFD replacement char, valid BMP
    val table = GraftTable.create(spark, tmp(), schema, splitPoints = Seq(emoji))
    table.ingest(batch(
      ("a", 1L, 1L, Map.empty[String, Long]),
      (bmpHigh, 1L, 2L, Map.empty[String, Long]),
      (emoji, 1L, 3L, Map.empty[String, Long]),
      (emoji + "x", 1L, 4L, Map.empty[String, Long])))

    // executor routing: a and U+FFFD left of the emoji split; emoji* right
    val tree = table.store.partitionTree
    val refs = table.store.fileReferences.groupBy(_.partitionId)
    val leftLeaf = tree.leaves.find(_.region.ranges.head.max.contains(emoji)).get
    assert(refs(leftLeaf.id).map(_.rowCount).sum == 2)

    // driver-side pruning agrees: an exact query for U+FFFD plans only
    // the left leaf and finds the row
    val q = GraftQuery.forKeys(schema, Seq(bmpHigh))
    assert(tree.leavesOverlapping(q.regions.map(_.canonical)).map(_.id) == Seq(leftLeaf.id))
    assert(table.query(q).select("count").as[Long].collect().toSeq == Seq(2L))
    // and the emoji rows are found on the right
    assert(table.query(GraftQuery.forKeys(schema, Seq(emoji)))
      .select("count").as[Long].collect().toSeq == Seq(3L))
  }

  test("many-point lookup is exact for keys containing the encoding separator") {
    // >=33 point regions trigger the InSet fast path, whose key-tuple
    // encoding must be injective: with a bare U+0001 separator,
    // ('x\u0001y','z') and ('x','y\u0001z') encoded identically, so a
    // batch lookup could return rows for keys never requested. The
    // length-prefixed form keeps them distinct; the emoji key pins the
    // code-point (not UTF-16-unit) length contract between Spark's
    // `length` and the driver-side prefix.
    val s2 = GraftSchema(
      rowKeys = Seq(GraftField("k1", StringType), GraftField("k2", StringType)),
      sortKeys = Nil,
      values = Seq(GraftField("v", LongType)))
    val table = GraftTable.create(spark, tmp(), s2)
    val tricky = Seq(
      ("x\u0001y", "z", 1L), ("x", "y\u0001z", 2L),
      ("12", "", 3L), ("1", "2", 4L),
      ("\ud83d\ude00x", "q", 5L), ("x", "\ud83d\ude00", 6L))
    val filler = (0 until 40).map(i => (s"f$i", s"g$i", 100L + i))
    table.ingest((tricky ++ filler).toDF("k1", "k2", "v"))

    // request one of each colliding pair plus >=32 fillers
    val wanted: Seq[Seq[Any]] =
      Seq(Seq("x\u0001y", "z"), Seq("12", ""), Seq("\ud83d\ude00x", "q")) ++
        (0 until 35).map(i => Seq(s"f$i", s"g$i"))
    val got = table.query(GraftQuery.forKeys(s2, wanted: _*))
      .select("v").as[Long].collect().toSet
    assert(got == (Set(1L, 3L, 5L) ++ (0 until 35).map(100L + _)),
      s"got unexpected rows: $got")
    // the unrequested twins of each colliding pair must NOT appear
    assert(!got.contains(2L) && !got.contains(4L) && !got.contains(6L))
  }

  test("two-dimensional row keys: region clip, splitting, and DSv2 pushdown") {
    val schema2 = GraftSchema(
      rowKeys = Seq(GraftField("x", LongType), GraftField("y", StringType)),
      sortKeys = Nil,
      values = Seq(GraftField("v", LongType)))
    val table = GraftTable.create(spark, tmp(), schema2,
      config = TableConfig(splitThreshold = 10))
    val rows = for (x <- 0L until 10L; y <- Seq("a", "b", "c")) yield (x, y, x * 10)
    table.ingest(rows.toDF("x", "y", "v"))

    val q = GraftQuery.forRegions(
      Region(KeyRange.minMax("x", 2L, 5L), KeyRange.exact("y", "b")))
    val got = table.query(q).select("x", "y").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b"), (3L, "b"), (4L, "b")))

    // 30 rows > threshold → sketch-median splits; data stays complete
    assert(table.splitPartitions().nonEmpty)
    assert(table.toDF.count() == 30)
    assert(table.query(q).select("x", "y").as[(Long, String)].collect().toSet == got)

    // DSv2 with conjunct pushdown on both dimensions
    spark.read.format("graft").load(table.dir).createOrReplaceTempView("md_t")
    val sql = spark.sql("SELECT v FROM md_t WHERE x = 7 AND y = 'c'")
    assert(sql.as[Long].collect().toSeq == Seq(70L))
  }

  test("time travel reads the state as of a captured version; snapshots are read-only") {
    val table = GraftTable.create(spark, tmp(), schema, config = aggConfig)
    table.ingest(batch(("a", 1L, 2L, Map("x" -> 1L)), ("b", 1L, 7L, Map.empty[String, Long])))
    val v = table.store.asInstanceOf[graft.meta.JsonStateStore].currentVersion
    table.ingest(batch(("a", 1L, 3L, Map("x" -> 4L)), ("c", 1L, 1L, Map.empty[String, Long])))
    table.compactAll() // rewrite current files; v's files stay until GC

    // current state sees both batches, aggregated
    assert(table.toDF.count() == 3)
    assert(table.toDF.filter($"key" === "a").select("count").as[Long].head() == 5L)

    // historical view: batch 1 alone
    val asOf = GraftTable.loadAsOf(spark, table.dir, v)
    assert(asOf.toDF.select("key").as[String].collect().toSet == Set("a", "b"))
    assert(asOf.toDF.filter($"key" === "a").select("count").as[Long].head() == 2L)

    // mutations on a snapshot must throw, current table is unaffected
    intercept[UnsupportedOperationException] {
      asOf.ingest(batch(("z", 1L, 1L, Map.empty[String, Long])))
    }
    assert(table.toDF.count() == 3)

    // a never-committed version fails loudly
    intercept[IllegalStateException] { GraftTable.loadAsOf(spark, table.dir, 999L) }
  }

  test("leafSample reads every k-th leaf deterministically; offsets cover the table") {
    val s = GraftSchema(
      rowKeys = Seq(GraftField("id", org.apache.spark.sql.types.LongType)),
      sortKeys = Nil,
      values = Seq(GraftField("v", org.apache.spark.sql.types.LongType)))
    val table = GraftTable.create(spark, tmp(), s, splitPoints = Seq(100L, 200L, 300L))
    table.ingest((0L until 400L).map(i => (i, 1L)).toDF("id", "v"))

    val s0 = table.leafSample(2, 0).select("id").as[Long].collect().toSet
    val s1 = table.leafSample(2, 1).select("id").as[Long].collect().toSet
    assert(s0 == ((0L until 100L) ++ (200L until 300L)).toSet, "leaves 0 and 2 in key order")
    assert(s1 == ((100L until 200L) ++ (300L until 400L)).toSet, "leaves 1 and 3")
    assert(s0.intersect(s1).isEmpty && (s0 ++ s1).size == 400)
    // repeatable: same call, same rows
    assert(table.leafSample(2, 0).select("id").as[Long].collect().toSet == s0)
    // metadata fraction is exact with uniform leaves
    assert(table.leafSampleFraction(2, 0) == 0.5)
    assert(table.leafSampleFraction(4, 3) == 0.25)
    assert(table.leafSample(1, 0).count() == 400L)
  }

  test("queryCached: version-keyed hit/miss, invalidation, uncacheable bypass") {
    val s = GraftSchema(
      rowKeys = Seq(GraftField("id", org.apache.spark.sql.types.LongType)),
      sortKeys = Nil,
      values = Seq(GraftField("v", org.apache.spark.sql.types.LongType)))
    val table = GraftTable.create(spark, tmp(), s)
    table.ingest((0L until 100L).map(i => (i, i)).toDF("id", "v"))
    val cache = tmp()
    val q = graft.query.GraftQuery.forRegions(
      graft.core.Region(graft.core.KeyRange.minMax("id", 10L, 20L)))

    val (r1, hit1) = table.queryCached(q, cache)
    val (r2, hit2) = table.queryCached(q, cache)
    assert(!hit1 && hit2)
    assert(r1.select("id").as[Long].collect().toSet ==
      r2.select("id").as[Long].collect().toSet)

    // a mutation bumps the version: the old entry no longer serves
    table.ingest(Seq((15L, 999L)).toDF("id", "v"))
    val (r3, hit3) = table.queryCached(q, cache)
    assert(!hit3, "post-mutation query must recompute")
    assert(r3.count() == r1.count() + 1)

    // unserializable query parts bypass the cache entirely
    val qSql = q.copy(postSql = Some("SELECT COUNT(*) AS n FROM query_results"))
    val (_, h1) = table.queryCached(qSql, cache)
    val (_, h2) = table.queryCached(qSql, cache)
    assert(!h1 && !h2, "postSql queries must never be served from cache")
  }
}
