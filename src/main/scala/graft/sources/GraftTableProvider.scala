package graft.sources

import java.util.{Map => JMap}
import scala.collection.mutable
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.{GraftSchema, KeyOrdering, KeyRange, PartitionTree, Region}
import graft.exec.{RunSpec, SortedRun}
import graft.meta.JsonStateStore

/** DataSource V2 provider exposing a graft table to `spark.sql`:
  *
  *   spark.read.format("graft").load(tableDir).createOrReplaceTempView("t")
  *   spark.sql("SELECT ... FROM t WHERE key BETWEEN 5 AND 9")
  *
  * Pushes WHERE-clause filters on row-key columns down to regions that
  * prune leaf partitions (and their files) before anything is read — the
  * reference's own Spark connector direction
  * (java/analytics-integration/spark/.../SleeperScanBuilder.java:39-74,
  * CreateRegionsFromPushedFilters.java, RangeIntersector.java) — prunes
  * columns, and declares the scan's per-partition sort order
  * (SupportsReportOrdering) so downstream sorts on the table's keys are
  * eliminated: the reference's headline `file_sort_order` optimization
  * (rust/sleeper_core/src/datafusion.rs:183-228). Each input partition
  * streams an N-way sorted merge of the leaf's files with the table's
  * persistent filter/aggregation applied (graft.exec.SortedRun).
  *
  * The merge reader is row-based, measured ~2x the vectorized parquet
  * scan on full-table aggregation — the price of the merged
  * (deduplicated, continually-aggregated, ordered) table view while
  * leaves hold multiple overlapping runs. In the post-compaction steady
  * state (every selected leaf = one leaf-local file, no persistent
  * filter/agg pending) the scan switches to Spark's native vectorized
  * ColumnarBatch reader and pays nothing — see
  * [[GraftScan.planInputPartitions]] — mirroring the reference's
  * vectorized-engine rationale (docs/design.md:318-329). Point/range
  * queries never paid it (row-group pruning dominates).
  */
final class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft source requires a path (the table directory)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = JsonStateStore.load(s"${path(options)}/meta").schema.toStructType
    if (options.getBoolean("readChangeFeed", false)) GraftBatchTable.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftBatchTable(properties.get("path"),
      cdf = "true".equalsIgnoreCase(properties.get("readChangeFeed")),
      writeOptions = {
        // path-based writeStream options arrive HERE, not in
        // LogicalWriteInfo.options — keep the ones the sink honors
        val m = new java.util.HashMap[String, String]()
        Seq("autoCompactEvery", "syncIndex", "syncIndexIdCol",
            "syncIndexVecCol", "syncIndexEvery", "syncIndexPq").foreach { k =>
          val v = properties.get(k)
          if (v != null) m.put(k, v)
        }
        m
      })

  override def supportsExternalMetadata(): Boolean = false
}

object GraftBatchTable {
  /** CDF schema: the table's columns (values forced nullable — delete
    * rows carry NULL values) + the change metadata.
    */
  def cdfSchema(base: StructType): StructType = {
    val nullable = StructType(base.fields.map(f => f.copy(nullable = true)))
    nullable
      .add("_op", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)
      .add("_commit_seq", org.apache.spark.sql.types.LongType, nullable = false)
  }
}

/** `loaded` + `baseRegions`: the read view behind `GraftTable.query` —
  * the handle's own (possibly time-travel) store, scanned within the
  * query's regions; read-only, never refreshed.
  */
final class GraftBatchTable(dir: String, asOf: Option[Long] = None,
    cdf: Boolean = false,
    writeOptions: JMap[String, String] = java.util.Collections.emptyMap(),
    loaded: Option[graft.meta.ConfiguredState] = None,
    baseRegions: Seq[Region] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  // Snapshot the state store once per table resolution. `asOf` pins the
  // resolution to a historical state version (SQL `VERSION AS OF` /
  // `TIMESTAMP AS OF` through GraftCatalog): reads serve exactly that
  // version's files/tombstones/schema, and every mutation is refused.
  private[sources] val store: graft.meta.ConfiguredState = loaded.getOrElse(asOf match {
    case Some(v) => JsonStateStore.loadAt(s"$dir/meta", v)
    case None => JsonStateStore.load(s"$dir/meta")
  })

  override def name(): String =
    asOf.fold(s"graft.`$dir`")(v => s"graft.`$dir` VERSION AS OF $v")

  // SHOW TBLPROPERTIES: mirror the CREATE TABLE property surface back
  // out (keys + the versioned config), so `SHOW` round-trips what
  // `SET/UNSET TBLPROPERTIES` edits.
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "graft")
    m.put("rowKeys", store.schema.rowKeys.map(_.name).mkString(","))
    if (store.schema.sortKeys.nonEmpty)
      m.put("sortKeys", store.schema.sortKeys.map(_.name).mkString(","))
    if (store.aggregationConfig.nonEmpty) m.put("aggregation", store.aggregationConfig)
    if (store.filterConfig.nonEmpty) m.put("filter", store.filterConfig)
    if (store.transformConfig.nonEmpty) m.put("transform", store.transformConfig)
    if (store.indexConfig.nonEmpty) m.put("index", store.indexConfig)
    m
  }
  // the table API reads every column as nullable: value columns are not
  // null-checked at ingest, and added columns read null in older files
  override def schema(): StructType =
    if (cdf) GraftBatchTable.cdfSchema(store.schema.toStructType)
    else if (loaded.isDefined)
      StructType(store.schema.toStructType.fields.map(_.copy(nullable = true)))
    else store.schema.toStructType
  override def capabilities(): java.util.Set[TableCapability] =
    if (cdf) java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    else if (asOf.isDefined || loaded.isDefined) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)

  // Re-load the snapshot per scan build (a small JSON read), so a view
  // created once still sees later ingests/compactions — read-your-writes
  // per query rather than per table resolution. A pinned (time-travel)
  // table never refreshes: its version IS the contract.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // streaming catch-up rate limit (see GraftMicroBatchStream.latestOffset)
    val maxVpt = Option(options.get("maxVersionsPerTrigger")).map { s =>
      val v = s.toLong
      require(v > 0, s"maxVersionsPerTrigger must be positive, got $v")
      v
    }
    if (cdf) return cdfScanBuilder(maxVpt)
    if (loaded.isDefined) return new GraftScanBuilder(dir, store, maxVpt, baseRegions)
    val fresh = if (asOf.isDefined) store else JsonStateStore.load(s"$dir/meta")
    // A table-level transform is a DataFrame-level hook the row reader
    // cannot run; silently skipping it would change read semantics (for
    // a SecurityFilter, leak rows). Refuse rather than diverge —
    // GraftTable.query applies it above this same scan.
    require(fresh.transformConfig.trim.isEmpty,
      s"table at $dir has a custom transform (${fresh.transformConfig}); " +
        "read it through GraftTable.query/toDF, which applies the transform " +
        "above the scan")
    new GraftScanBuilder(dir, fresh, maxVpt)
  }

  /** Appends run the normal bulk-ingest dataflow (partition-tag →
    * shuffle-by-leaf → sorted files + sketches → state-store commit) via
    * the V1 write bridge, so `df.write.format("graft").mode("append")`
    * and SQL `INSERT INTO` land data exactly like `GraftTable.ingest`.
    * The table is an LSM log — overwrite is not a meaningful operation
    * and is rejected.
    */
  private def assertMutable(): Unit = {
    require(asOf.isEmpty,
      s"table at $dir pinned to version ${asOf.get} is a read-only time-travel view")
    require(!cdf, s"the change-data-feed view of $dir is read-only")
  }

  /** Streaming change-data-feed scan (see [[GraftCdfMicroBatchStream]]):
    * fixed schema (table columns + _op/_commit_version/_commit_seq), no
    * pushdown, stream-only (batch consumers use `changesBetween`).
    */
  private def cdfScanBuilder(maxVpt: Option[Long]): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = schema()
    override def description(): String = s"graft CDF $dir"
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      val fresh = JsonStateStore.load(s"$dir/meta")
      // raw-change contract: a persistent filter/transform rewrites rows
      // at read time; the change feed cannot apply them — refuse rather
      // than leak rows a batch read would suppress. (Pending tombstones
      // are FINE here — delivering them is the point.)
      require(fresh.filterConfig.trim.isEmpty && fresh.transformConfig.trim.isEmpty,
        s"table at $dir has a persistent filter/transform; the change feed " +
          "delivers raw committed changes and cannot apply them")
      val fields = fresh.schema.allFields
      new GraftCdfMicroBatchStream(dir, fields, fresh.schema.rowKeys, maxVpt)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    assertMutable()
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      // SQL INSERT OVERWRITE / df overwrite mode: Spark requests a
      // truncating write — served ATOMICALLY (one composite version:
      // Truncate + AddFiles), never as separate truncate-then-append
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            val table = graft.table.GraftTable.load(data.sparkSession, dir)
            if (replaceAll || overwrite) table.overwrite(data)
            else table.ingest(data)
            ()
          }
        // df.writeStream.format("graft"): exactly-once epochs via the
        // (sink:queryId, epochId) txn watermark — see GraftStreamingWrite
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!replaceAll, "the graft streaming sink is append-only")
          val fresh = JsonStateStore.load(s"$dir/meta")
          val sch = fresh.schema
          info.schema().fields.foreach { f =>
            val t = sch.allFields.find(_.name == f.name).getOrElse(
              throw new IllegalArgumentException(
                s"streaming sink input field ${f.name} not in the table schema"))
            require(org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(f.dataType, t.dataType),
              s"field ${f.name}: stream ${f.dataType.sql} != table ${t.dataType.sql}")
          }
          // Spark's output resolution aligns the stream to the TABLE
          // schema; the writer indexes positionally, so assert the order
          require(info.schema().fieldNames.toSeq == sch.allFields.map(_.name),
            s"streaming sink input must carry every table column in order " +
              s"(${info.schema().fieldNames.mkString(",")} vs ${sch.allFields.map(_.name).mkString(",")})")
          // opt-in post-commit maintenance: .option("autoCompactEvery", N)
          // (catalog writes deliver options via LogicalWriteInfo; the
          // path-based writeStream surface via getTable properties)
          def opt(k: String): Option[String] =
            Option(info.options().get(k)).orElse(Option(writeOptions.get(k)))
          val autoCompact = opt("autoCompactEvery").map { s =>
            val n = s.toInt
            require(n > 0, s"autoCompactEvery must be positive, got $n")
            n
          }
          // opt-in ANN-index maintenance: .option("syncIndex", <indexDir>)
          // [+ syncIndexIdCol/syncIndexVecCol/syncIndexEvery/syncIndexPq] —
          // every N landed epochs the sink reconciles the persisted index
          // from the table's change feed (VectorFunctions.syncIndexWithTable)
          val indexSync = opt("syncIndex").map { idxDir =>
            val idCol = opt("syncIndexIdCol").getOrElse(sch.rowKeyNames.head)
            val vecCol = opt("syncIndexVecCol").getOrElse {
              val arrays = sch.values.collect {
                case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
              }
              require(arrays.size == 1,
                s"syncIndexVecCol is required (candidate array columns: ${arrays.mkString(", ")})")
              arrays.head
            }
            val every = opt("syncIndexEvery").map(_.toInt).getOrElse(1)
            require(every > 0, s"syncIndexEvery must be positive, got $every")
            IndexSyncSpec(idxDir, idCol, vecCol, every,
              pq = opt("syncIndexPq").exists(_.equalsIgnoreCase("true")))
          }
          new GraftStreamingWrite(dir, info.queryId(),
            sch.allFields, sch.keyNames, sch.rowKeyNames, fresh.partitionTree,
            autoCompact, indexSync)
        }
      }
    }
  }

  /** SQL TRUNCATE TABLE: one O(1) metadata version — refs and pending
    * tombstones to the GC queue; pre-truncate versions stay readable.
    */
  override def truncateTable(): Boolean = {
    assertMutable()
    JsonStateStore.load(s"$dir/meta").truncate()
    true
  }

  /** Metadata-only SQL DELETE: an exact-key WHERE (`k = v`, `k IN
    * (...)`, OR of key conjunctions) becomes row-key tombstones directly
    * — m13 semantics, zero scan, zero data rewrite, on ANY table
    * (deleting by key is exactly what such a WHERE asks for).
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    GraftRowLevelOps.keyTuples(store.schema, predicates).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    assertMutable()
    val tuples = GraftRowLevelOps.keyTuples(store.schema, predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicates ${predicates.mkString(", ")} are not an exact-key shape"))
    val spark = org.apache.spark.sql.SparkSession.active
    val keySt = GraftRowLevelOps.keyStruct(store.schema)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](tuples.size)
    tuples.foreach(t => rows.add(org.apache.spark.sql.Row.fromSeq(t)))
    graft.table.GraftTable.load(spark, dir).deleteKeys(spark.createDataFrame(rows, keySt))
  }

  /** Scan-based SQL DELETE / UPDATE / MERGE INTO — merge-on-read
    * deltas landing as one atomic tombstones+puts commit (see
    * [[GraftRowLevelOps]]). Requires one-row-per-key tables.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    assertMutable()
    // NO capability gate here: Spark rewrites every DELETE through this
    // builder at analysis time and only later optimizes exact-key
    // shapes into the metadata-only path; the one-row-per-key gate
    // fires in newWriteBuilder, reached only by genuinely scan-based DML
    val fresh = JsonStateStore.load(s"$dir/meta")
    () => new GraftRowLevelOperation(dir, fresh.schema, fresh.aggregationConfig, info.command)
  }
}

/** A pushed comparison on an integral column, evaluable against a
  * file's sidecar stats entry (non-null count + exact min/max written at
  * ingest/compaction): the file-grain data-skipping predicate. Region
  * pruning is leaf-grain and key-only; this skips individual FILES on
  * ANY integral column — the Iceberg/Delta min-max manifest move, paid
  * as O(candidate files) driver-side sidecar reads, never data IO.
  */
final case class StatsPred(field: String, op: String, values: Seq[Any],
    isString: Boolean) {
  private def cmp(a: Any, b: Any): Int =
    if (isString) KeyOrdering.compareUtf8(a.asInstanceOf[String], b.asInstanceOf[String])
    else java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])

  private def utf8(s: Any): Array[Byte] =
    s.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Could any row of a file with these stats satisfy the predicate?
    * `cnt == 0` (all null) fails every comparison — SQL comparisons
    * with NULL are never true. String comparisons use UTF-8 binary
    * order, the order of both Spark's UTF8String and the stats writer.
    *
    * `prefix` (a pushed `col LIKE 'x%'`): strings starting with p form
    * the range [p, succ(p)) in byte order, so the file may qualify iff
    * max >= p and min < succ(p); the succ comparison is done without
    * materializing succ (which need not be valid UTF-8) — min < succ(p)
    * ⟺ min's first |p| bytes compare <= p.
    */
  def maySatisfy(cnt: Long, min: Any, max: Any): Boolean =
    if (cnt == 0) false
    else op match {
      case ">"  => cmp(max, values.head) > 0
      case ">=" => cmp(max, values.head) >= 0
      case "<"  => cmp(min, values.head) < 0
      case "<=" => cmp(min, values.head) <= 0
      case "="  => cmp(min, values.head) <= 0 && cmp(values.head, max) <= 0
      case "in" => values.exists(v => cmp(min, v) <= 0 && cmp(v, max) <= 0)
      case "prefix" =>
        val p = utf8(values.head)
        val mn = utf8(min)
        cmpBytes(utf8(max), p) >= 0 &&
          cmpBytes(java.util.Arrays.copyOf(mn, math.min(mn.length, p.length)), p) <= 0
    }
}

/** Scan-side probes of the per-file Bloom value indexes: each pushed
  * EQUALITY conjunct on an indexed column becomes (field, candidate
  * hashes); a file whose filter rejects EVERY candidate hash of some
  * conjunct cannot contain a qualifying row and is skipped. Hashing is
  * BloomIndex's (= Spark's xxhash64), matching both write paths.
  */
object BloomPred {
  import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, In}

  def fromFilters(indexConfig: String, filters: Array[Filter]): Seq[(String, Seq[Long])] = {
    val indexed = graft.meta.BloomIndex.bloomFields(indexConfig).toSet
    if (indexed.isEmpty) Nil
    else filters.toSeq.flatMap {
      case EqualTo(a, v) if indexed(a) && v != null =>
        graft.meta.BloomIndex.hashValue(v).map(h => a -> Seq(h))
      case EqualNullSafe(a, v) if indexed(a) && v != null =>
        graft.meta.BloomIndex.hashValue(v).map(h => a -> Seq(h))
      case In(a, vs) if indexed(a) && vs.nonEmpty =>
        // NULL list entries never match a row by themselves — drop them
        val hs = vs.toSeq.filter(_ != null).map(graft.meta.BloomIndex.hashValue)
        if (hs.nonEmpty && hs.forall(_.isDefined)) Some(a -> hs.map(_.get)) else None
      case _ => None
    }
  }
}

object StatsPred {
  private def long(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Extract skippable conjuncts: simple comparisons of an integral or
    * string schema field against a matching literal. Everything else is
    * ignored (it stays a residual filter — skipping is a pure IO
    * optimization, never a correctness dependency).
    */
  def fromFilters(schema: GraftSchema, filters: Array[Filter]): Seq[StatsPred] = {
    val integral = graft.jobs.Ingest.integralFieldNames(schema).toSet
    val string = graft.jobs.Ingest.stringFieldNames(schema).toSet
    def mk(a: String, op: String, v: Any): Option[StatsPred] = v match {
      case s: String if string(a) => Some(StatsPred(a, op, Seq(s), isString = true))
      case other if integral(a) => long(other).map(l => StatsPred(a, op, Seq(l), isString = false))
      case _ => None
    }
    filters.toSeq.flatMap {
      case sources.GreaterThan(a, v) => mk(a, ">", v)
      case sources.GreaterThanOrEqual(a, v) => mk(a, ">=", v)
      case sources.LessThan(a, v) => mk(a, "<", v)
      case sources.LessThanOrEqual(a, v) => mk(a, "<=", v)
      case sources.EqualTo(a, v) => mk(a, "=", v)
      case sources.In(a, vs) if vs.nonEmpty =>
        if (string(a) && vs.forall(_.isInstanceOf[String]))
          Some(StatsPred(a, "in", vs.toSeq, isString = true))
        else if (integral(a)) {
          val ls = vs.toSeq.map(long)
          if (ls.forall(_.isDefined)) Some(StatsPred(a, "in", ls.map(_.get), isString = false))
          else None
        } else None
      case sources.StringStartsWith(a, p) if string(a) && p.nonEmpty =>
        Some(StatsPred(a, "prefix", Seq(p), isString = true))
      case _ => None
    }
  }
}

/** `baseRegions` (ORed; empty = the whole key space) bound every scan
  * this builder makes: pushed filters narrow them, never widen them.
  */
final class GraftScanBuilder(dir: String, store: graft.meta.ConfiguredState,
    maxVersionsPerTrigger: Option[Long] = None, baseRegions: Seq[Region] = Nil)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private val schema = store.schema
  private var pushed: Array[Filter] = Array.empty
  private val base: Seq[Region] = if (baseRegions.isEmpty) Seq(allKeySpace) else baseRegions
  private val baseRestricts = !base.exists(_.unbounded)
  private var regions: Seq[Region] = base
  private var required: StructType = schema.toStructType
  private var pushedLimit: Option[Int] = None
  private var pushedLimitLast: Boolean = false
  private var pushedMixedDirs: Seq[Boolean] = Nil
  private var statsPreds: Seq[StatsPred] = Nil
  private var bloomPreds: Seq[(String, Seq[Long])] = Nil

  /** Per-partition row cap; Spark keeps the global limit above the scan
    * because the push is only partial.
    */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }

  // resolves the limit/TopN default-method diamond; both mean the same
  // here: the cap is per partition, Spark finishes the job globally
  override def isPartiallyPushed(): Boolean = true

  /** Key-order TopN: each partition's merged stream is ALREADY sorted by
    * (row keys, sort keys) ASC NULLS FIRST, so when the requested order
    * is a prefix of that, a partition's top-n is literally its first n
    * rows — `ORDER BY key LIMIT n` on a 100-TB table reads n rows per
    * leaf instead of everything; all-DESC is the exact reverse (last n
    * rows, the ring buffer). MIXED directions over the key prefix push
    * too: leading-ASC (`ORDER BY k1 ASC, k2 DESC LIMIT n`) walks
    * ASC-prefix groups with a bounded per-group heap and stops once n
    * rows closed; leading-DESC (`ORDER BY k1 DESC, k2 ASC LIMIT n`, the
    * newest-first pagination shape) walks the same groups keeping the
    * LAST groups' candidates in an O(n) deque — see RunSpec.mixedDirs
    * and SortedRun.mixedTopN. Anything else (non-prefix columns,
    * non-default null ordering) declines.
    */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val keyNames = schema.keyNames
    // per-column direction matched to the key prefix; Some(true)=ASC
    // NULLS FIRST (storage order), Some(false)=DESC NULLS LAST (its
    // exact reverse) — Spark's defaults; anything else unsupported
    val parsed: Option[Seq[Boolean]] =
      if (orders.isEmpty || orders.length > keyNames.length) None
      else {
        val ds = orders.toSeq.zipWithIndex.map { case (o, i) =>
          o.expression() match {
            case ref: org.apache.spark.sql.connector.expressions.NamedReference
                if ref.fieldNames.length == 1 && ref.fieldNames.head == keyNames(i) =>
              if (o.direction() == SortDirection.ASCENDING &&
                  o.nullOrdering() == NullOrdering.NULLS_FIRST) Some(true)
              else if (o.direction() == SortDirection.DESCENDING &&
                  o.nullOrdering() == NullOrdering.NULLS_LAST) Some(false)
              else None
            case _ => None
          }
        }
        if (ds.forall(_.isDefined)) Some(ds.map(_.get)) else None
      }
    parsed match {
      case Some(ds) if ds.forall(identity) =>
        pushedLimit = Some(limit); true
      case Some(ds) if !ds.exists(identity) =>
        pushedLimit = Some(limit); pushedLimitLast = true; true
      case Some(ds) => // mixed, leading ASC or DESC
        pushedLimit = Some(limit); pushedMixedDirs = ds; true
      case _ => false
    }
  }
  private var pushedAgg: Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = None

  private def allKeySpace: Region =
    Region(schema.rowKeys.map(f => KeyRange.unbounded(f.name)))

  /** COUNT(*) / MIN(row key) / MAX(row key) with no grouping and no
    * filters are answerable from table metadata alone: committed footer
    * row counts are exact, and every data file's sketch sidecar tracks
    * its key columns' exact min/max items — whenever every reference is
    * leaf-local (a post-metadata-split ref carries a halved ESTIMATE and
    * a shared file would double-count; both disqualify) and no
    * persistent filter/aggregation changes the merged view. A 100-TB
    * `SELECT COUNT(*), MIN(k), MAX(k)` then reads zero data files —
    * only sidecars, bounded at 4096 driver-side reads. Spark attempts
    * aggregate pushdown only when every filter was fully pushed, and
    * this source keeps all filters residual, so a filtered DataFrame
    * aggregate never reaches here. A `GraftTable.query` scan does: its
    * regions bound the builder and no filter sits above the scan, so
    * `lookup(k).count()` arrives here and must decline, because the
    * metadata describes the whole table.
    */
  private def aggFromMetadata(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min, Sum}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty) return None
    if (pushed.nonEmpty || baseRestricts) return None
    if (store.aggregationConfig.trim.nonEmpty || store.filterConfig.trim.nonEmpty) return None
    // pending row-key deletes: footer counts and sidecar stats still
    // include the tombstoned rows — metadata answers would overcount
    if (store.tombstones.nonEmpty) return None
    val tree = store.partitionTree
    val refs = store.fileReferences
    val exact = refs.forall(r =>
      tree(r.partitionId).isLeaf && r.physicalPartitionId == r.partitionId)
    if (!exact || refs.size > 4096) return None

    def rowKeyName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case ref: NamedReference if ref.fieldNames.length == 1 &&
          schema.rowKeyNames.contains(ref.fieldNames.head) => Some(ref.fieldNames.head)
        case _ => None
      }

    val dataFiles = refs.filter(_.rowCount > 0)
      .map(r => graft.meta.GraftFS.dataPath(dir, r.physicalPartitionId, r.filename))
    // (min, max) per row-key field from the unioned sidecar sketches —
    // exact items, not estimates (quantile sketches track min/max
    // exactly). None = a sidecar is missing; empty table = Some((null, null)).
    val minMaxCache = mutable.Map.empty[String, Option[(Any, Any)]]
    def minMax(field: String): Option[(Any, Any)] = minMaxCache.getOrElseUpdate(field, {
      if (dataFiles.isEmpty) Some((null, null))
      else if (!dataFiles.forall(graft.meta.SketchSidecar.exists)) None
      else {
        val kind = graft.functions.KeySketch.kindOf(schema.field(field).dataType)
        val parts = dataFiles.map(f => graft.meta.SketchSidecar.read(f).get(field))
        if (parts.exists(_.isEmpty)) None
        else {
          val merged = graft.functions.KeySketch.union(kind, parts.flatten)
          Some((kind.fromItem(merged.getMinItem), kind.fromItem(merged.getMaxItem)))
        }
      }
    })

    def internal(v: Any): Any = v match {
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => other
    }

    // SUM / MIN / MAX of an int/long column from the per-file sidecar
    // stats entries: exact per-file (non-null count, sum, min, max)
    // accumulated at write time. Any file missing the entry (pre-stats
    // file, or an overflowed write) declines; driver-side sum
    // accumulation declines on overflow too — the fallback scan then
    // reproduces Spark's own ANSI behavior.
    def integralFieldName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case ref: NamedReference if ref.fieldNames.length == 1 &&
        schema.allFields.exists(f => f.name == ref.fieldNames.head &&
          (f.dataType == LongType || f.dataType == IntegerType)) =>
        Some(ref.fieldNames.head)
      case _ => None
    }
    // (sum, min, max) per field, nulls when every row is null
    val statsCache = mutable.Map.empty[String, Option[(Any, Any, Any)]]
    def sidecarStats(field: String): Option[(Any, Any, Any)] =
      statsCache.getOrElseUpdate(field, {
        if (dataFiles.isEmpty) Some((null, null, null))
        else if (!dataFiles.forall(graft.meta.SketchSidecar.exists)) None
        else {
          val entry = graft.meta.SketchSidecar.sumEntryName(field)
          val parts = dataFiles.map(f => graft.meta.SketchSidecar.read(f).get(entry))
          if (parts.exists(_.isEmpty)) None
          else try {
            var cnt = 0L; var tot = 0L
            var mn = Long.MaxValue; var mx = Long.MinValue
            parts.flatten.foreach { bytes =>
              val s = graft.meta.SketchSidecar.decodeSum(bytes)
              cnt = Math.addExact(cnt, s.nonNullCount)
              tot = Math.addExact(tot, s.sum)
              if (s.nonNullCount > 0) {
                if (s.min < mn) mn = s.min
                if (s.max > mx) mx = s.max
              }
            }
            // MIN/MAX carry the column's own type; sums are LongType
            def typed(v: Long): Any = schema.field(field).dataType match {
              case IntegerType => v.toInt
              case _ => v
            }
            Some(if (cnt == 0) (null, null, null)
                 else ((tot: Any), typed(mn), typed(mx)))
          } catch { case _: ArithmeticException => None }
        }
      })

    lazy val count = refs.map(_.rowCount).sum
    val vals = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((count: Any, LongType: org.apache.spark.sql.types.DataType))
      case m: Min => rowKeyName(m.column)
        .flatMap(f => minMax(f).map(mm => (internal(mm._1), schema.field(f).dataType)))
        .orElse(integralFieldName(m.column).flatMap(f =>
          sidecarStats(f).map(s => (s._2, schema.field(f).dataType))))
      case m: Max => rowKeyName(m.column)
        .flatMap(f => minMax(f).map(mm => (internal(mm._2), schema.field(f).dataType)))
        .orElse(integralFieldName(m.column).flatMap(f =>
          sidecarStats(f).map(s => (s._3, schema.field(f).dataType))))
      case s: Sum if !s.isDistinct => integralFieldName(s.column).flatMap(f =>
        sidecarStats(f).map(v => (v._1, LongType: org.apache.spark.sql.types.DataType)))
      case _ => None
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  // Spark probes supportCompletePushDown then pushAggregation with the
  // same Aggregation; memoize so the sidecar reads happen once, not twice.
  private var aggMemo: (org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[Seq[(Any, org.apache.spark.sql.types.DataType)]]) = null

  private def aggFromMetadataMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    val memo = aggMemo
    if (memo != null && (memo._1 eq agg)) return memo._2
    val r = aggFromMetadata(agg)
    aggMemo = (agg, r)
    r
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggFromMetadataMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggFromMetadataMemo(agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  /** Translate row-key conjuncts into regions used for partition/file
    * pruning. Every filter is ALSO returned as residual: Spark re-applies
    * the exact predicates post-scan, so pruning can stay partition-grain
    * (the reference keeps the same split,
    * SleeperScanBuilder.pushFilters:39-74).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (usable, _) = filters.partition(RegionFromFilters.supported(schema, _))
    pushed = usable
    regions = RegionFromFilters.intersect(schema, base, RegionFromFilters.regions(schema, usable))
    statsPreds = StatsPred.fromFilters(schema, filters)
    bloomPreds = BloomPred.fromFilters(store.indexConfig, filters)
    filters // all residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(values) => new GraftMetaAggScan(dir, values)
    case None =>
      new GraftScan(dir, store, regions, required, pushedLimit, statsPreds, pushedLimitLast,
        bloomPreds, pushedMixedDirs, maxVersionsPerTrigger,
        // a key batch's bounding box is safe to read only where its exact
        // membership is re-checked above the scan: by Spark for pushed and
        // runtime filters over the whole key space, by GraftTable.query
        // for a key batch of base regions
        readKeyBatchBox = !baseRestricts || Region.keyBatch(base).isDefined)
  }
}

/** Metadata-only aggregate scan: one partition emitting the single
  * pre-computed COUNT/MIN/MAX result row.
  */
final class GraftMetaAggScan(dir: String,
    values: Seq[(Any, org.apache.spark.sql.types.DataType)]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    values.zipWithIndex.map { case ((_, dt), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", dt, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String = s"GraftMetaAggScan $dir (metadata-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetaAggPartition(values.map(_._1)))
  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[GraftMetaAggPartition]
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = if (emitted) false else { emitted = true; true }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(p.values.toArray)
        override def close(): Unit = ()
      }
    }
  }
}

final case class GraftMetaAggPartition(values: Seq[Any]) extends InputPartition

final class GraftScan(dir: String, store: graft.meta.ConfiguredState,
    initialRegions: Seq[Region], required: StructType, limit: Option[Int] = None,
    statsPreds: Seq[StatsPred] = Nil, limitLast: Boolean = false,
    bloomPreds: Seq[(String, Seq[Long])] = Nil,
    mixedDirs: Seq[Boolean] = Nil,
    maxVersionsPerTrigger: Option[Long] = None,
    readKeyBatchBox: Boolean = true)
  extends Scan with Batch with SupportsReportOrdering with SupportsRuntimeFiltering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val schema = store.schema
  private var regions: Seq[Region] = initialRegions
  // distinct data files dropped by sidecar-stats skipping in the last
  // computeSpecs pass — surfaced through description() so tests/queries
  // can ASSERT the skip happened (the p6 leaf-prune pattern)
  @volatile private var statsSkippedFiles: Int = 0
  // distinct data files dropped by per-file Bloom value-index probes
  @volatile private var bloomSkippedFiles: Int = 0

  /** Size/row estimates from the state store's file metadata — feeds the
    * planner's broadcast decisions and the runtime-filtering benefit
    * heuristic. Rows come from committed footer counts; bytes from the
    * files on disk, scaled by the selected-leaf fraction.
    */
  override def estimateStatistics(): Statistics = {
    val selected = planSpecs
    val tree = store.partitionTree
    val selectedLeafIds = tree.leavesOverlapping(regions).map(_.id).toSet
    // Refs can sit on ancestor partitions between splitPartition and
    // splitFileReferences; computeSpecs reads them, so the row estimate
    // must count them too (prorated by the fraction of the ancestor's
    // leaves selected) or numRows undercounts vs sizeInBytes and skews
    // broadcast decisions.
    val totalUnder = mutable.Map.empty[String, Int].withDefaultValue(0)
    val selectedUnder = mutable.Map.empty[String, Int].withDefaultValue(0)
    tree.leaves.foreach { leaf =>
      tree.ancestors(leaf.id).foreach { a =>
        totalUnder(a.id) += 1
        if (selectedLeafIds.contains(leaf.id)) selectedUnder(a.id) += 1
      }
    }
    val rowCount = store.fileReferences.iterator.map { r =>
      if (selectedLeafIds.contains(r.partitionId)) r.rowCount
      else if (selectedUnder(r.partitionId) > 0)
        r.rowCount * selectedUnder(r.partitionId) / math.max(totalUnder(r.partitionId), 1)
      else 0L
    }.sum
    val bytes = selected.flatMap(_.spec.paths).distinct.map { p =>
      try graft.meta.GraftFS.length(p) catch { case _: Exception => 0L }
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rowCount)
    }
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftRowsDecodedMetric, new GraftRowsEmittedMetric)

  /** `spark.readStream.format("graft")` — the table-changes micro-batch
    * source (see [[GraftMicroBatchStream]]). Column pruning applies (the
    * stream reads only `required`); pushed filters are safe because this
    * builder reports every filter as residual, so Spark re-applies them
    * above the stream. A persistent filterConfig is refused like the
    * transform config at newScanBuilder: the append log cannot apply it,
    * and silently streaming rows a batch read suppresses (age-off, row
    * suppression) would leak them to every subscriber.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(store.filterConfig.trim.isEmpty,
      s"table at $dir has a persistent filter (${store.filterConfig}); " +
        "the table-changes stream delivers the raw append log and cannot " +
        "apply it — read the table in batch via GraftTable.query/toDF")
    // Same contract for row-key deletes: the append log has no retract
    // records, so a subscriber would keep rows a batch read suppresses.
    // Refuse while tombstones are pending; compaction (or deleteKeys
    // purge=true) retires them and the stream becomes startable again.
    // Deletes issued AFTER stream start are a documented gap (the
    // stream is append-only CDC, like any system without retractions).
    require(store.tombstones.isEmpty,
      s"table at $dir has ${store.tombstones.size} pending delete tombstone(s); " +
        "the append-log stream cannot retract rows — compact first " +
        "(deleteKeys(purge = true) or compactAll)")
    new GraftMicroBatchStream(dir,
      required.fields.map(f => graft.core.GraftField(f.name, f.dataType, f.nullable)).toSeq,
      schema.rowKeys.head, maxVersionsPerTrigger)
  }

  override def description(): String = {
    val leafCount = planSpecs.length
    s"GraftScan ${dir} leaves=$leafCount regions=${regions.size}" +
      limit.map(l => s" perPartitionLimit=$l${if (limitLast) " desc"
        else if (mixedDirs.nonEmpty) mixedDirs.map(d => if (d) "asc" else "desc")
          .mkString(" mixed=", ",", "") else ""}").getOrElse("") +
      (if (statsPreds.nonEmpty) s" statsSkippedFiles=$statsSkippedFiles" else "") +
      (if (bloomPreds.nonEmpty) s" bloomSkippedFiles=$bloomSkippedFiles" else "")
  }

  /** Runtime filtering (dynamic partition pruning): when this table is
    * the probe side of a join, Spark hands us the build side's key
    * values (an IN filter) at execution time; intersecting them into the
    * regions prunes leaves that no join key can reach — the DSv2 analog
    * of Catalyst's DPP on hive-partitioned tables.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.rowKeyNames.map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val usable = filters.filter(RegionFromFilters.supported(schema, _))
    if (usable.nonEmpty)
      regions = RegionFromFilters.intersect(schema, regions,
        RegionFromFilters.regions(schema, usable))
  }

  /** Storage-partitioned-join surface (VERDICT r14 #1): report the scan
    * as KeyGroupedPartitioning over the leaf ordinals via the
    * catalog-resolved `graft_leaf_<fingerprint>` transform — see
    * [[GraftPartitioning]] for why the fingerprinted function (not an
    * identity transform) is the sound encoding of RANGE co-partitioning.
    * Reported only when the tree actually splits and the projection
    * keeps every split-dim key column (otherwise the rule could not
    * resolve the transform's references and would log a warning per
    * query). Gated behind spark.sql.sources.v2.bucketing.enabled by
    * Spark itself.
    */
  private lazy val spjTransform
      : Option[org.apache.spark.sql.connector.expressions.Transform] = {
    val tree = store.partitionTree
    val dims = GraftPartitioning.splitDims(tree)
    val names = dims.map(schema.rowKeys(_).name)
    val outNames = required.fields.map(_.name).toSet
    if (dims.isEmpty || !names.forall(outNames)) None
    else {
      val fp = GraftPartitioning.register(tree)
      Some(Expressions.apply(s"${GraftPartitioning.FunctionPrefix}$fp",
        names.map(Expressions.column): _*))
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjTransform match {
      case Some(t) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(t), planSpecs.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          planSpecs.length)
    }

  private lazy val leafOrdinals: Map[String, Int] =
    GraftPartitioning.leafOrdinals(store.partitionTree)

  /** One leaf's scan work + whether it qualifies for the vectorized fast
    * path: exactly one file, physically written for this very leaf (so
    * every row in the file belongs to the leaf — no region clip needed),
    * and small enough for one batch-reader task.
    */
  private final case class LeafScan(spec: RunSpec, singleLocalFile: Boolean,
      leafId: String)

  // memoized against the regions value (runtime filtering mutates it)
  private var cachedSpecs: (Seq[Region], Array[LeafScan]) = null

  /** One input partition per relevant leaf: the leaf's files plus every
    * ancestor's files, clipped to the leaf's region (ancestor-file rows
    * land in exactly one leaf — no duplicates; reference
    * QueryPlanner.java:178-183).
    */
  private def planSpecs: Array[LeafScan] = {
    val cached = cachedSpecs
    if (cached != null && (cached._1 eq regions)) return cached._2
    val specs = computeSpecs()
    cachedSpecs = (regions, specs)
    specs
  }

  private def computeSpecs(): Array[LeafScan] = {
    val tree = store.partitionTree
    val refsByPartition = store.fileReferences.groupBy(_.partitionId)
    val outputNames = required.fields.map(_.name).toSeq
    // File-grain data skipping on pushed integral comparisons: a file
    // whose sidecar stats prove no row can satisfy some conjunct is
    // dropped from its leaf's merge. Sound because Spark re-applies
    // every filter post-scan (all filters residual), persistent filters
    // only REMOVE rows, and region clipping only removes rows — but a
    // persistent AGGREGATION merges rows across files, whose combined
    // value could pass a predicate its inputs fail, so skipping is
    // disabled on such tables. Missing sidecar / entry = keep the file.
    val statsSkippable = statsPreds.nonEmpty && store.aggregationConfig.trim.isEmpty
    // Bloom equality skipping shares the aggregation gate: merged rows
    // could EQUAL a probe value none of the input rows carried.
    val bloomSkippable = bloomPreds.nonEmpty && store.aggregationConfig.trim.isEmpty
    val sidecarCache = mutable.Map.empty[String, Option[Map[String, Array[Byte]]]]
    val skipped = mutable.Set.empty[String]
    val bloomSkipped = mutable.Set.empty[String]
    def fileMaySatisfy(path: String): Boolean =
      (!statsSkippable && !bloomSkippable) || {
        val entries = sidecarCache.getOrElseUpdate(path,
          graft.meta.SketchSidecar.readCachedOpt(path))
        entries match {
          case None => true
          case Some(m) =>
            val statsOk = !statsSkippable || statsPreds.forall { p =>
              val entry =
                if (p.isString) graft.meta.SketchSidecar.strEntryName(p.field)
                else graft.meta.SketchSidecar.sumEntryName(p.field)
              m.get(entry) match {
                case None => true
                case Some(bytes) if p.isString =>
                  val s = graft.meta.SketchSidecar.decodeStr(bytes)
                  p.maySatisfy(s.nonNullCount, s.min, s.max)
                case Some(bytes) =>
                  val s = graft.meta.SketchSidecar.decodeSum(bytes)
                  p.maySatisfy(s.nonNullCount, s.min, s.max)
              }
            }
            if (!statsOk) skipped += path
            // evaluated only when stats keep the file — the counters
            // attribute each skip to the cheapest mechanism that fired
            val bloomOk = !statsOk || !bloomSkippable || bloomPreds.forall {
              case (field, hashes) =>
                m.get(graft.meta.SketchSidecar.bloomEntryName(field)) match {
                  case None => true // unindexed write path: keep
                  case Some(bytes) =>
                    val bf =
                      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
                        new java.io.ByteArrayInputStream(bytes)))
                      catch { case scala.util.control.NonFatal(_) => None }
                    bf.forall(b => hashes.exists(b.mightContainLong))
                }
            }
            if (statsOk && !bloomOk) bloomSkipped += path
            statsOk && bloomOk
        }
      }
    val tombsByPartition = store.tombstones.groupBy(_.partitionId)
    val specs = tree.leavesOverlapping(regions).flatMap { leaf =>
      val refs = refsByPartition.getOrElse(leaf.id, Nil) ++
        tree.ancestors(leaf.id).flatMap(a => refsByPartition.getOrElse(a.id, Nil))
      // seq-ascending: the merge's key-tie order makes `last` (LWW) keep
      // the newest generation's row
      val pathsWithSeq = refs.sortBy(r => (r.seq, r.filename))
        .map(r => (graft.meta.GraftFS.dataPath(dir, r.physicalPartitionId, r.filename), r.seq))
        .distinctBy(_._1).filter(p => fileMaySatisfy(p._1))
      val paths = pathsWithSeq.map(_._1)
      // pending row-key deletes for this leaf (and any split ancestor);
      // each carries its generation seq — it suppresses only files of
      // generations <= its own (LSM delete-marker semantics)
      val tombsWithSeq = (tombsByPartition.getOrElse(leaf.id, Nil) ++
        tree.ancestors(leaf.id).flatMap(a => tombsByPartition.getOrElse(a.id, Nil)))
        .map(t => (graft.meta.GraftFS.dataPath(dir, t.physicalPartitionId, t.filename), t.seq))
        .distinctBy(_._1)
      val tombPaths = tombsWithSeq.map(_._1)
      if (paths.isEmpty) None
      else {
        // the query regions reaching this leaf go to the parquet row-group
        // and page filter, so a point lookup decodes ~one page per column
        // even inside the leaf, and every read path emits exactly the rows
        // inside them. A key batch may read its bounding box instead of a
        // per-row test over every key (see readKeyBatchBox); its exact
        // membership is then checked above the scan.
        val leafRegions = regions.filter(_.overlaps(leaf.region))
        val queryRegions =
          if (leafRegions.exists(_.unbounded)) Nil
          else if (readKeyBatchBox) Region.keyBatch(leafRegions).fold(leafRegions)(b => Seq(b._2))
          else leafRegions
        val spec = RunSpec(paths, schema, outputNames, Some(leaf.region),
          store.aggregationConfig, store.filterConfig, System.currentTimeMillis(),
          queryRegions = queryRegions,
          limit = limit, limitLast = limitLast,
          tombstonePaths = tombPaths,
          pathSeqs = pathsWithSeq.map(_._2),
          tombstoneSeqs = tombsWithSeq.map(_._2),
          mixedDirs = mixedDirs,
          // every selected file physically lives in this leaf → the
          // leaf-region clip cannot drop a row, which unlocks the
          // last-n trailing-row-group prune on compacted leaves
          clipNoop = refs.forall(_.physicalPartitionId == leaf.id))
        // a DESC TopN needs the merge reader's last-n ring buffer; the
        // native batch reader can only truncate from the FRONT. Pending
        // tombstones and query regions are fine — the columnar reader
        // trims each batch to the regions and applies the sorted marker
        // anti-join in one pass — but only when the projection carries
        // the columns they test; otherwise the row merge reader (which
        // reads keys internally) takes over.
        val singleLocal = !limitLast && mixedDirs.isEmpty &&
          (tombPaths.isEmpty || schema.rowKeyNames.forall(outputNames.contains)) &&
          queryRegions.forall(_.ranges.forall(r => outputNames.contains(r.field))) &&
          refs.size == 1 && refs.head.partitionId == leaf.id &&
          refs.head.physicalPartitionId == leaf.id && refs.head.rowCount <= Int.MaxValue
        Some(LeafScan(spec, singleLocal, leaf.id))
      }
    }.toArray
    statsSkippedFiles = skipped.size
    bloomSkippedFiles = bloomSkipped.size
    specs
  }

  /** The vectorized (ColumnarBatch) path activates when no persistent
    * filter/aggregation is pending and at least one selected leaf is a
    * fully-compacted single local file: such leaves' merged view IS the
    * file, and Spark's native vectorized parquet reader serves it at
    * full columnar speed (the documented ~2x win over the row merge for
    * whole-table analytics). Spark requires the whole scan to be
    * uniformly row-based or columnar, so the remaining (multi-run)
    * leaves ride along as row merges wrapped into ColumnarBatches — a
    * small copy cost, paid only while a leaf awaits compaction. A scan
    * with NO native-capable leaf stays on the plain row path (wrapping
    * everything would be pure overhead). Both paths emit exactly the rows
    * inside each leaf's query regions; Spark still re-applies every
    * pushed filter post-scan (pushFilters returns them all as residual).
    */
  private def scanColumnar(parts: Array[LeafScan]): Boolean =
    parts.exists(_.singleLocalFile) &&
      store.aggregationConfig.trim.isEmpty && store.filterConfig.trim.isEmpty &&
      required.fields.nonEmpty // count(*)-style empty projection stays on the row path

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = planSpecs
    val columnar = scanColumnar(parts)
    parts.map(p =>
      GraftInputPartition(p.spec, columnar, p.singleLocalFile,
        leafOrdinals(p.leafId)): InputPartition)
  }

  /** Rows come out of each partition merged in (row keys, sort keys)
    * order; declaring it lets EnsureRequirements / RemoveRedundantSorts
    * drop downstream sorts on the table's key order (S2).
    */
  override def outputOrdering(): Array[SortOrder] = {
    val outNames = required.fields.map(_.name)
    val keyNames = schema.keyNames
    // mixed-TopN candidates emit in group/heap order, NOT storage order
    // — declaring an ordering would let Spark elide the finishing sort
    if (mixedDirs.nonEmpty) return Array.empty
    if (keyNames.forall(outNames.contains))
      keyNames.map(k => Expressions.sort(Expressions.column(k),
        SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
    else Array.empty
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // capture the driver's Hadoop configuration: executors resolve the
    // table's filesystem (credentials, fs.defaultFS) with it
    new GraftReaderFactory(graft.meta.GraftFS.serializableConf)
}

/** `columnar` = the whole scan serves ColumnarBatches (uniform across
  * partitions, as Spark requires); `nativeFile` = THIS leaf is a single
  * local file servable by the native vectorized parquet reader (others
  * wrap the row merge into batches). `leafOrdinal` is the leaf's index
  * in the tree's canonical leaf order — the partition key Spark's SPJ
  * machinery matches across co-partitioned scans (ignored unless the
  * scan reported KeyGroupedPartitioning).
  */
final case class GraftInputPartition(spec: RunSpec, columnar: Boolean = false,
    nativeFile: Boolean = false, leafOrdinal: Int = -1)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](leafOrdinal))
}

final class GraftReaderFactory(confW: graft.meta.SerializableHadoopConf)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[GraftInputPartition].columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (it, closeAll, decoded) =
      SortedRun.open(partition.asInstanceOf[GraftInputPartition].spec, confW.value)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var emitted = 0L
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); emitted += 1; true } else false
      override def get(): InternalRow = current
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        GraftScanMetrics.values(decoded(), emitted)
      // releases file readers left open by an early stop (LIMIT etc.)
      override def close(): Unit = closeAll()
    }
  }

  /** Columnar readers. A native-file leaf reads its single sorted file
    * through Spark's vectorized parquet reader; other leaves run the
    * normal row merge and pack the rows into ColumnarBatches. Both
    * preserve the merge order, so the declared outputOrdering holds.
    */
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    if (p.nativeFile) nativeColumnarReader(p.spec) else wrappedColumnarReader(p.spec)
  }

  private def nativeColumnarReader(spec: RunSpec)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val outFields = spec.output.map(spec.schema.field)
    // over the projected columns only, as the bridge requires
    val pred = SortedRun.queryPredicate(spec.queryRegions, outFields)
    val (vec, perm) = org.apache.spark.sql.execution.datasources.parquet.GraftVectorizedBridge
      .open(spec.paths.head, StructType(outFields.map(_.toStructField)),
        pred, capacity = 4096, conf = confW.value)
    val fileSeq =
      if (spec.pathSeqs.size == spec.paths.size) spec.pathSeqs.head else 0L
    val tombOpt = SortedRun.tombstoneKeyIterator(spec, fileSeq, confW.value)
    new PartitionReader[ColumnarBatch] {
      // honor the pushed per-partition LIMIT/TopN cap here too — without
      // it, exactly the advertised steady state (compacted leaves) would
      // read whole files; it counts emitted rows, and the last batch is
      // truncated via setNumRows
      private var remaining: Long = spec.limit.map(_.toLong).getOrElse(Long.MaxValue)
      private var decoded = 0L
      private var emitted = 0L
      private var current: ColumnarBatch = _

      // The kept pages also hold the neighbours of the rows in the query
      // regions: the exact membership test. Null when unconstrained (or
      // when a region field is not projected; the planner then picks the
      // row merge instead).
      private val inRegions = SortedRun.regionTest(spec.queryRegions, outFields).orNull

      // ---- sorted-marker anti-join state (pending deleteKeys) ----
      // Rows in every batch and the merged marker stream are both key-
      // ascending, so the join is a cursor walk: a batch whose key range
      // holds no marker needs no marker test (the common case: markers
      // are a takedown-sized set).
      private val tombs = tombOpt.map(_._1).orNull
      private val keyOrds = spec.schema.rowKeys
        .map(f => spec.output.indexOf(f.name)).toArray
      private val keyTypes = spec.schema.rowKeys.map(_.dataType).toArray
      private var curTomb: org.apache.spark.sql.catalyst.InternalRow =
        if (tombs != null && tombs.hasNext) tombs.next() else null
      private def cmpRowTomb(r: org.apache.spark.sql.catalyst.InternalRow,
          t: org.apache.spark.sql.catalyst.InternalRow): Int = {
        var i = 0
        while (i < keyTypes.length) {
          val c = graft.exec.SortedRunAccess.compareInternal(keyTypes(i),
            r.get(keyOrds(i), keyTypes(i)), t.get(i, keyTypes(i)))
          if (c != 0) return c
          i += 1
        }
        0
      }
      /** Whether a marker deletes `r`; rows must come key-ascending. */
      private def deleted(r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
        while (curTomb != null && cmpRowTomb(r, curTomb) > 0)
          curTomb = if (tombs.hasNext) tombs.next() else null
        curTomb != null && cmpRowTomb(r, curTomb) == 0
      }
      private lazy val packSchema = StructType(spec.output.map { n =>
        val f = spec.schema.field(n)
        org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)
      })
      private lazy val packer = new org.apache.spark.sql.execution.GraftRowPacker(packSchema)
      private lazy val packVectors = org.apache.spark.sql.execution.vectorized
        .OnHeapColumnVector.allocateColumns(4096, packSchema)
      private lazy val packBatch = new ColumnarBatch(
        packVectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector), 0)
      private lazy val survivors = new Array[Int](4096)

      /** The rows of `b` inside the query regions and not deleted, found
        * in one pass: `b` itself when every row survives, else the
        * survivors packed into the pack batch.
        */
      private def trim(b: ColumnarBatch): ColumnarBatch = {
        val n = b.numRows
        if (n == 0) return b
        // markers below this batch can never match again; a batch wholly
        // below the next marker needs no marker test
        deleted(b.getRow(0))
        val testTombs = curTomb != null && cmpRowTomb(b.getRow(n - 1), curTomb) >= 0
        if (inRegions == null && !testTombs) return b
        var kept = 0
        var i = 0
        while (i < n) {
          val r = b.getRow(i)
          if ((inRegions == null || inRegions(r)) && !(testTombs && deleted(r))) {
            survivors(kept) = i
            kept += 1
          }
          i += 1
        }
        if (kept == n) return b
        packVectors.foreach(_.reset())
        val out = packVectors.asInstanceOf[Array[
          org.apache.spark.sql.execution.vectorized.WritableColumnVector]]
        var j = 0
        while (j < kept) {
          packer.pack(b.getRow(survivors(j)), out)
          j += 1
        }
        packBatch.setNumRows(kept)
        packBatch
      }

      // batches with no surviving row are skipped here, so every batch
      // handed to Spark holds rows
      override def next(): Boolean = {
        current = null
        while (current == null && remaining > 0 && vec.nextKeyValue()) {
          val raw = vec.getCurrentValue.asInstanceOf[ColumnarBatch]
          decoded += raw.numRows
          // restore the requested column order when evolved columns were
          // appended by the reader's partition-column seam
          val ordered = perm match {
            case None => raw
            case Some(p) => new ColumnarBatch(p.map(i => raw.column(i)), raw.numRows())
          }
          val b = trim(ordered)
          if (b.numRows > 0) {
            if (b.numRows > remaining) b.setNumRows(remaining.toInt)
            remaining -= b.numRows
            emitted += b.numRows
            current = b
          }
        }
        current != null
      }
      override def get(): ColumnarBatch = current
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        GraftScanMetrics.values(decoded, emitted)
      override def close(): Unit = {
        vec.close()
        tombOpt.foreach(_._2())
      }
    }
  }

  private def wrappedColumnarReader(spec: RunSpec)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    // all-nullable conversion schema: the converter then takes the
    // null-checking path for every field, which is what merged rows need
    val structType = StructType(spec.output.map { n =>
      val f = spec.schema.field(n)
      org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)
    })
    val capacity = 4096
    val converter = new org.apache.spark.sql.execution.GraftRowPacker(structType)
    val vectors = OnHeapColumnVector.allocateColumns(capacity, structType)
    val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector), 0)
    val (it, closeAll, decoded) = SortedRun.open(spec, confW.value)
    new PartitionReader[ColumnarBatch] {
      private var emitted = 0L
      override def next(): Boolean = {
        if (!it.hasNext) return false
        vectors.foreach(_.reset())
        var n = 0
        while (n < capacity && it.hasNext) {
          converter.pack(it.next(), vectors.asInstanceOf[Array[
            org.apache.spark.sql.execution.vectorized.WritableColumnVector]])
          n += 1
        }
        batch.setNumRows(n)
        emitted += n
        true
      }
      override def get(): ColumnarBatch = batch
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        GraftScanMetrics.values(decoded(), emitted)
      override def close(): Unit = { closeAll(); batch.close() }
    }
  }
}

/** [[GraftScan]]'s DSv2 custom metrics, summed over tasks: rows the
  * parquet readers decoded and rows the scan emitted. Their ratio is the
  * scan's read amplification, which page skipping keeps near one for a
  * point lookup. Spark instantiates the metric classes by name on the
  * driver, hence public classes with no-arg constructors.
  */
object GraftScanMetrics {
  val RowsDecoded = "rowsDecoded"
  val RowsEmitted = "rowsEmitted"

  def values(decoded: Long, emitted: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(task(RowsDecoded, decoded), task(RowsEmitted, emitted))

  private def task(metric: String, v: Long)
      : org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = v
    }
}

final class GraftRowsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftScanMetrics.RowsDecoded
  override def description(): String = "rows decoded by the parquet reader"
}

final class GraftRowsEmittedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftScanMetrics.RowsEmitted
  override def description(): String = "rows emitted by the scan"
}

/** Pushed-filter → region translation: intersect per-row-key-column
  * bounds from the supported conjuncts (=, <, <=, >, >=, AND, IN) into
  * regions, the reference's CreateRegionsFromPushedFilters /
  * RangeIntersector logic.
  */
object RegionFromFilters {

  def supported(schema: GraftSchema, f: Filter): Boolean = {
    val keys = schema.rowKeyNames.toSet
    f match {
      case sources.EqualTo(a, _) => keys(a)
      case sources.GreaterThan(a, _) => keys(a)
      case sources.GreaterThanOrEqual(a, _) => keys(a)
      case sources.LessThan(a, _) => keys(a)
      case sources.LessThanOrEqual(a, _) => keys(a)
      case sources.In(a, vs) => keys(a) && vs.count(_ != null) <= 64
      case sources.And(l, r) => supported(schema, l) && supported(schema, r)
      case _ => false
    }
  }

  /** AND of two OR-of-region sets: the pairwise intersections that
    * overlap, in canonical form over the row keys.
    */
  def intersect(schema: GraftSchema, as: Seq[Region], bs: Seq[Region]): Seq[Region] =
    for {
      a <- as
      b <- bs
      if a.overlaps(b)
    } yield Region(schema.rowKeys.map { f =>
      val ra = a.ranges.find(_.field == f.name).getOrElse(KeyRange.unbounded(f.name)).canonical
      val rb = b.ranges.find(_.field == f.name).getOrElse(KeyRange.unbounded(f.name)).canonical
      val min = (ra.min, rb.min) match {
        case (Some(x), Some(y)) => Some(if (KeyOrdering.compare(x, y) >= 0) x else y)
        case (x, y) => x.orElse(y)
      }
      val max = (ra.max, rb.max) match {
        case (Some(x), Some(y)) => Some(if (KeyOrdering.compare(x, y) <= 0) x else y)
        case (x, y) => x.orElse(y)
      }
      KeyRange(f.name, min, minInclusive = true, max, maxInclusive = false)
    })

  /** Bounds intersection per column, then regions (IN multiplies regions,
    * capped by `supported`).
    */
  def regions(schema: GraftSchema, filters: Array[Filter]): Seq[Region] = {
    final case class Bounds(var min: Option[Any], var minInc: Boolean,
        var max: Option[Any], var maxInc: Boolean)

    def newBounds() = Bounds(None, true, None, false)

    // each map = one conjunction of per-column bounds; IN splits into many
    var alternatives: Seq[mutable.Map[String, Bounds]] =
      Seq(mutable.Map.empty[String, Bounds])

    def tightenMin(b: Bounds, v: Any, inc: Boolean): Unit = {
      val stronger = b.min match {
        case None => true
        case Some(cur) =>
          val c = KeyOrdering.compare(v, cur)
          c > 0 || (c == 0 && !inc && b.minInc)
      }
      if (stronger) { b.min = Some(v); b.minInc = inc }
    }
    def tightenMax(b: Bounds, v: Any, inc: Boolean): Unit = {
      val stronger = b.max match {
        case None => true
        case Some(cur) =>
          val c = KeyOrdering.compare(v, cur)
          c < 0 || (c == 0 && !inc && b.maxInc)
      }
      if (stronger) { b.max = Some(v); b.maxInc = inc }
    }

    def apply(f: Filter): Unit = f match {
      case sources.And(l, r) => apply(l); apply(r)
      case sources.EqualTo(a, v) =>
        alternatives.foreach { m =>
          val b = m.getOrElseUpdate(a, newBounds())
          tightenMin(b, v, inc = true); tightenMax(b, v, inc = true)
        }
      case sources.GreaterThan(a, v) =>
        alternatives.foreach(m => tightenMin(m.getOrElseUpdate(a, newBounds()), v, inc = false))
      case sources.GreaterThanOrEqual(a, v) =>
        alternatives.foreach(m => tightenMin(m.getOrElseUpdate(a, newBounds()), v, inc = true))
      case sources.LessThan(a, v) =>
        alternatives.foreach(m => tightenMax(m.getOrElseUpdate(a, newBounds()), v, inc = false))
      case sources.LessThanOrEqual(a, v) =>
        alternatives.foreach(m => tightenMax(m.getOrElseUpdate(a, newBounds()), v, inc = true))
      case sources.In(a, vs) =>
        // null IN-values never match a (non-nullable) key — drop them;
        // an all-null IN list leaves zero alternatives = nothing to scan
        alternatives = alternatives.flatMap { m =>
          vs.toSeq.filter(_ != null).map { v =>
            val copy = mutable.Map.empty[String, Bounds] ++
              m.map { case (k, b) => k -> Bounds(b.min, b.minInc, b.max, b.maxInc) }
            val b = copy.getOrElseUpdate(a, newBounds())
            tightenMin(b, v, inc = true); tightenMax(b, v, inc = true)
            copy
          }
        }
      case _ => // unreachable: callers pre-filter by `supported`
    }

    filters.foreach(apply)

    alternatives.map { m =>
      Region(schema.rowKeys.map { f =>
        m.get(f.name) match {
          case Some(b) => KeyRange(f.name, b.min, b.minInc, b.max, b.maxInc)
          case None => KeyRange.unbounded(f.name)
        }
      })
    }
  }
}
