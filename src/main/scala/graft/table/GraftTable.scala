package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.meta._

/** Per-table behavior configuration — the distilled table properties the
  * dataflow actually consumes (reference: docs/usage/properties/table).
  */
final case class TableConfig(
    /** continual aggregation, e.g. "sum(count),map_max(m)" (X3) */
    aggregationConfig: String = "",
    /** persistent filter, e.g. "ageOff(ts,1209600000)" (P3) */
    filterConfig: String = "",
    /** table-level custom transform, e.g.
      * "graft.transforms.SecurityFilter{vis,public|secret}" (X1) —
      * applied at query AND compaction like the reference's table
      * iterator (sleeper.table.iterator.class.name) */
    transformConfig: String = "",
    /** leaf row-count threshold that triggers a partition split
      * (reference default 1e9; docs/usage/properties/table/partition_splitting.md) */
    splitThreshold: Long = 1000000000L,
    /** files per compaction job (DEFAULT_COMPACTION_FILES_BATCH_SIZE=11) */
    compactionBatchSize: Int = 11,
    /** directory of user jars for transform classes — deployment-level,
      * NOT persisted to the state store (paths are environment-specific,
      * like the reference's instance-level jars bucket); falls back to
      * the `graft.user.jars.dir` system property when empty */
    userJarsDir: String = "",
    /** SizeRatio strategy ratio (Accumulo-style, default 3) */
    sizeRatio: Int = 3,
    /** per-file Bloom value indexes for equality data skipping, e.g.
      * "bloom(event_type),bloom(user_id,500000)" — persisted table
      * metadata (see [[graft.meta.BloomIndex]]) */
    indexConfig: String = "",
    /** minutes a file must be unreferenced before GC deletes it */
    gcDelayMinutes: Int = 10)

/** A graft table: sorted parquet files + a state store, rooted at
  *   <dir>/meta  — JSON state-store version chain
  *   <dir>/data/<partitionId>/<uuid>.parquet (+ .sketches sidecars)
  *
  * The facade over ingest / query / compaction / split / GC — the
  * library-level equivalent of the reference's table abstraction
  * (docs/design.md:55-72).
  */
final class GraftTable(
    val spark: SparkSession,
    val dir: String,
    val store: ConfiguredState,
    val config: TableConfig) {

  def schema: GraftSchema = store.schema

  def dataDir: String = s"$dir/data"

  def filePath(partitionId: String, filename: String): String =
    GraftFS.dataPath(dir, partitionId, filename)

  def pathOf(ref: FileReference): String = {
    val direct = filePath(ref.physicalPartitionId, ref.filename)
    if (GraftFS.exists(direct)) direct
    else {
      // refs persisted before homeId existed resolve by scanning the
      // partition dirs once (migration path only — new refs are O(1))
      GraftFS.list(dataDir).foreach { st =>
        val cand = new org.apache.hadoop.fs.Path(st.getPath, ref.filename)
        val (fs, _) = GraftFS.resolve(cand.toString)
        if (fs.exists(cand)) return cand.toString
      }
      throw new IllegalStateException(s"data file not found: ${ref.filename}")
    }
  }

  def ingest(input: DataFrame, txn: Option[(String, Long)] = None): Seq[FileReference] =
    new graft.jobs.Ingest(this).run(input, txn)

  /** Run a query, mirroring the reference's planner + leaf executor
    * (QueryPlanner.java / LeafPartitionQueryExecutor.java): the DSv2
    * [[graft.sources.GraftScan]] over this handle's store, bounded by the
    * query regions, prunes leaves and files and streams each leaf's
    * merge — ancestor-file clip, delete markers, generation order, the
    * persistent filter and aggregation ([[graft.exec.SortedRun]]).
    * The scan returns exactly the rows in the query regions, except for
    * a key batch ([[Region.keyBatch]]), whose bounding box it reads.
    * Above the scan, in order: the read-schema select (keys, requested
    * values and the fields the transforms declare — pushed into the scan
    * as column pruning), a key batch's membership predicate, the table
    * transform, the query-config transform, the programmatic hook, the
    * final projection (keys always kept) and the SQL post-stage. No key
    * literal enters the plan otherwise, so lookups of different keys
    * share one generated class.
    *
    * A tiny point scan — at most [[Region.ManyPoints]] point keys whose
    * scan plans one input partition, holding at most
    * [[graft.sources.LocalPointScan.MaxRows]] rows — is read on the
    * driver when this DataFrame is built, from the handle's loaded
    * snapshot, by the same scan readers
    * ([[graft.sources.LocalPointScan]]). The layers above then sit over
    * those rows with no sort added (one partition's rows are already in
    * key order), and collecting them runs no Spark job. Every other query
    * reads its scan when an action runs, sorted within partitions by key.
    */
  def query(q: graft.query.GraftQuery): DataFrame = plan(q, tryLocal = true)

  /** [[query]]'s job arm alone: the relation plan over the scan, which
    * [[query]] returns for every query the driver-local arm declines.
    */
  private[graft] def relationQuery(q: graft.query.GraftQuery): DataFrame =
    plan(q, tryLocal = false)

  private def plan(q: graft.query.GraftQuery, tryLocal: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.transforms.TransformFactory
    val regions = q.regions.map(_.canonical)
    val table = new graft.sources.GraftBatchTable(dir, loaded = Some(store), baseRegions = regions)
    val tableTransform = TransformFactory.parse(store.transformConfig, schema, config.userJarsDir)
    val queryTransform = q.queryTransformConfig.flatMap(
      TransformFactory.parse(_, schema, config.userJarsDir))
    def withValues(df: DataFrame, keep: String => Boolean): DataFrame =
      df.select((schema.keyNames ++ schema.valueNames.filter(keep)).map(col): _*)
    val readValue: String => Boolean = q.requestedValueFields match {
      case Some(req) =>
        req.toSet ++ (tableTransform ++ queryTransform).flatMap(_.requiredValueFields)
      case None => _ => true
    }
    val local =
      if (!tryLocal) None
      else {
        val names = (schema.keyNames ++ schema.valueNames.filter(readValue)).toSet
        val required = org.apache.spark.sql.types.StructType(
          table.schema().fields.filter(f => names(f.name)))
        graft.sources.LocalPointScan.decide(table, regions, required).rows
          .map(org.apache.spark.sql.graft.bridge.localRelationDataFrame(spark, required, _))
      }
    val scan = local.getOrElse(org.apache.spark.sql.graft.bridge.relationDataFrame(spark, table))
    val read = if (q.requestedValueFields.isEmpty) scan else withValues(scan, readValue)
    val inRegions =
      if (Region.keyBatch(regions).isEmpty) read else read.filter(Region.anyOf(regions))
    val hooks: Seq[DataFrame => DataFrame] =
      (tableTransform ++ queryTransform).toSeq.map(t => t.apply _) ++ q.queryTimeTransform
    val out = hooks.foldLeft(inRegions)((df, f) => f(df))
    val projected = q.requestedValueFields.fold(out)(req => withValues(out, req.contains))
    // a sort over the local rows would plan a job; they are in key order
    val sorted =
      if (local.isDefined) projected
      else projected.sortWithinPartitions(schema.keyNames.map(col): _*)
    q.postSql.map(graft.query.SqlStage.overResults(spark, sorted, _)).getOrElse(sorted)
  }

  /** Point lookup: rows whose row key equals the given values (schema
    * order) — the reference's headline ~0.5s use case (README.md:16-17);
    * plans to exactly the leaves holding the keys. Keys in one leaf, with
    * at most [[graft.sources.LocalPointScan.MaxRows]] rows between them,
    * are read on the driver when the DataFrame is built, from the
    * handle's loaded snapshot, with no sort added: see [[query]].
    */
  def lookup(keyValues: Any*): DataFrame =
    query(graft.query.GraftQuery.forKeys(schema, keyValues))

  /** Whole table as a DataFrame (sorted within partitions). */
  def toDF: DataFrame = query(graft.query.GraftQuery.all)

  /** Row-key delete (the takedown-request capability; the reference's
    * only removal is ageOff): registers the key set as sorted per-leaf
    * tombstone files in one atomic commit — O(keys) IO, NO data
    * rewrite. Markers are GENERATION-AWARE (LSM delete markers): a
    * tombstone stamps its write-generation seq and suppresses a key
    * only in files with seq <= its own, so rows re-ingested AFTER the
    * delete survive, pending or compacted. Every read path applies the
    * markers via a streaming merge-anti-join; compaction physically
    * purges the marked rows and retires the tombstone in the same
    * commit. `purge = true` is a physical-removal convenience — it
    * compacts the affected leaves before returning so the deleted bytes
    * are gone from disk immediately (compliance-shaped), not a
    * correctness workaround.
    */
  /** Versioned table-property edits — the admin/ALTER-TABLE surface over
    * [[graft.meta.StateTransaction.SetProperties]] (keys: aggregation /
    * filter / transform / index; aggregation only while the table is
    * empty). One O(1) transaction; the change versions through the log,
    * replay, snapshots and time travel. Returns a RELOADED handle —
    * this handle's captured `config` is stale after the commit.
    */
  def setProperties(updates: Map[String, String]): GraftTable = {
    store.assertWritable()
    // transform classes resolve against deployment-level jars, which a
    // replayed transaction cannot see — validate loadability HERE
    updates.get("transform").filter(_.trim.nonEmpty).foreach { t =>
      graft.transforms.TransformFactory.parse(t, schema, config.userJarsDir)
    }
    store.setProperties(updates)
    GraftTable.load(spark, dir, config = Some(TableConfig(
      aggregationConfig = store.tableProps.aggregation,
      filterConfig = store.tableProps.filter,
      transformConfig = store.tableProps.transform,
      indexConfig = store.tableProps.index,
      splitThreshold = config.splitThreshold,
      compactionBatchSize = config.compactionBatchSize,
      userJarsDir = config.userJarsDir,
      sizeRatio = config.sizeRatio,
      gcDelayMinutes = config.gcDelayMinutes)))
  }

  def deleteKeys(keys: DataFrame, purge: Boolean = false): Seq[FileReference] = {
    store.assertWritable()
    val refs = graft.jobs.Tombstones.write(this, keys)
    if (purge && refs.nonEmpty) compactAll()
    refs
  }

  /** RESTORE (Delta RESTORE TABLE ... TO VERSION AS OF): roll the DATA
    * back to version `v`'s contents in ONE metadata commit — the target
    * refs and pending markers (generation seqs included) become
    * current, files added since move to the GC queue, and target files
    * still pending GC are resurrected. No data IO: restore is O(refs)
    * metadata. Refused if any target file was already garbage-collected
    * (restorable history = GC retention, same bound as time-travel
    * reads). The partition tree, schema, and properties stay current.
    * Change feeds deliver the restore as a reset diff (retractions for
    * rolled-back keys, the restored state re-asserted above) so
    * subscribers converge to the restored table — see
    * [[graft.table.ChangeFeed]]; subscribers must drain the window
    * within the GC delay (the rolled-back files are pending GC).
    */
  def restoreTo(v: Long): Unit = {
    store.assertWritable()
    val target = JsonStateStore.loadAt(s"$dir/meta", v)
    val all = (target.fileReferences ++ target.tombstones)
      .map(r => r.filename -> r.physicalPartitionId).distinct
    val missing = all.filterNot { case (f, home) => GraftFS.exists(filePath(home, f)) }
    require(missing.isEmpty,
      s"cannot restore to version $v: ${missing.size} file(s) already " +
        s"garbage-collected (e.g. ${missing.take(3).map(_._1).mkString(", ")}) — " +
        "restorable history is bounded by the GC delay")
    store.restore(target.fileReferences, target.tombstones)
  }

  /** TRUNCATE: drop every row in one O(1) metadata version — refs and
    * pending tombstones move to the GC queue; data files survive until
    * GC, so pre-truncate versions stay time-travel-readable. Streams
    * are NOT retracted (the feeds are append/change logs): a truncate
    * is an admin reset, and stream consumers restart their checkpoints.
    */
  def truncate(): Unit = {
    store.assertWritable()
    store.truncate()
  }

  /** Atomic INSERT OVERWRITE: write `data` as a fresh generation, then
    * ONE composite commit truncates and adds it — a reader sees the old
    * contents or the new, never empty-in-between, never both. Cost:
    * one ingest of `data` + O(1) metadata.
    */
  def overwrite(data: DataFrame): Unit = {
    store.assertWritable()
    val refs = new graft.jobs.Ingest(this).run(data, commit = false)
    store.overwriteFiles(refs)
  }

  /** MERGE INTO (one atomic commit): source rows where `deleteWhen`
    * holds become row-key delete markers; the rest are put as one new
    * write generation. On a last-write-wins table (`last(...)`
    * aggregation) this is exactly Delta/Iceberg MERGE semantics —
    * matched keys take the source values, unmatched keys insert, marked
    * keys delete; on other aggregated tables the puts combine per the
    * aggregation config. The markers stamp one generation below the
    * puts, so a source that both deletes and puts a key resolves to the
    * put, and no reader ever observes half a merge. `deleteWhen` may use
    * columns outside the table schema (e.g. a CDC `_op` column); they
    * are dropped before the write. Cost: O(source) — one sorted write of
    * the puts, one key-only write of the deletes, zero rewrite of
    * existing data (the LSM advantage over copy-on-write MERGE).
    */
  def merge(source: DataFrame, deleteWhen: org.apache.spark.sql.Column,
      txn: Option[(String, Long)] = None)
      : (Seq[FileReference], Seq[FileReference]) = {
    store.assertWritable()
    // cheap replay pre-check (streaming CDC apply); the authoritative
    // gate is the atomic commitMergeIfAbsent below
    if (txn.exists { case (app, v) => store.lastTxnVersion(app).exists(_ >= v) })
      return (Nil, Nil)
    val del = org.apache.spark.sql.functions.coalesce(
      deleteWhen, org.apache.spark.sql.functions.lit(false))
    val dels = source.filter(del)
      .select(schema.rowKeyNames.map(source(_)): _*)
    val puts = source.filter(!del)
      .select(schema.allFields.map(f => source(f.name)): _*)
    val tombRefs = graft.jobs.Tombstones.write(this, dels, commit = false)
    val putRefs = new graft.jobs.Ingest(this).run(puts, commit = false)
    if (tombRefs.isEmpty && putRefs.isEmpty) return (Nil, Nil)
    txn match {
      case None => store.commitMerge(putRefs, tombRefs); (putRefs, tombRefs)
      case Some((app, version)) =>
        if (store.commitMergeIfAbsent(app, version, putRefs, tombRefs))
          (putRefs, tombRefs)
        else {
          // lost to a concurrent/prior commit of the same txn: the data
          // is already in the table — remove this attempt's orphan files
          (putRefs ++ tombRefs).foreach { r =>
            graft.meta.GraftFS.delete(pathOf(r))
            graft.meta.GraftFS.delete(pathOf(r) + ".sketches")
          }
          (Nil, Nil)
        }
    }
  }

  def compactAll(tracker: graft.jobs.CompactionJobTracker =
      graft.jobs.CompactionJobTracker.Noop): Unit =
    new graft.jobs.Compaction(this, tracker).compactAll()

  def compact(strategy: graft.jobs.CompactionStrategy,
      tracker: graft.jobs.CompactionJobTracker =
        graft.jobs.CompactionJobTracker.Noop): Int =
    new graft.jobs.Compaction(this, tracker).runStrategy(strategy)

  def splitPartitions(): Seq[String] = new graft.jobs.PartitionSplitter(this).run()

  def collectGarbage(nowMs: Long = System.currentTimeMillis()): Seq[String] =
    new graft.jobs.GarbageCollector(this).run(nowMs)

  /** Bulk export: whole table to parquet at `outDir` (M8). */
  def export(outDir: String): Unit = toDF.write.mode("overwrite").parquet(outDir)

  /** Bulk export to `shards` JSONL files — the training-data handoff
    * format (one JSON object per line, a fixed shard count for
    * downstream loaders). Shard assignment hashes the row keys, so the
    * same table state always produces the same shard contents —
    * re-exports are diffable.
    */
  def exportJsonl(outDir: String, shards: Int): Unit =
    toDF.repartition(shards, schema.rowKeyNames.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").json(outDir)

  /** Version-keyed query result cache: a result computed against state
    * version V is immutable (files never change under a version), so it
    * caches under md5(queryJson @ V) forever — any table mutation bumps
    * the version and naturally invalidates. The repeated-dashboard
    * shape: the second identical query against an unchanged 100-TB
    * table costs a cache-dir read, zero planning and zero data IO.
    * Returns (result, servedFromCache). Snapshot (time-travel) loads
    * cache under their historical version.
    */
  def queryCached(q: graft.query.GraftQuery, cacheDir: String)
      : (DataFrame, Boolean) = {
    // function transforms and the SQL post-stage are NOT part of the
    // serialized query (the JSON interchange form cannot carry a
    // closure, and postSql is graft-specific) — caching them would
    // silently collide distinct queries under one key; bypass instead
    val version =
      if (q.queryTimeTransform.isDefined || q.postSql.isDefined) -1L
      else store.currentVersion
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val json = graft.query.QuerySerDe.toJson(q, schema)
      // table identity (dir) is part of the key: two tables sharing one
      // cacheDir at the same version with the same query shape must not
      // serve each other's results
      md.digest(s"$dir|$json@$version".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val hitDir = s"$cacheDir/$key"
    if (version >= 0 && GraftFS.exists(s"$hitDir/_SUCCESS"))
      (spark.read.parquet(hitDir), true)
    else {
      val df = query(q)
      if (version < 0) (df, false)
      else {
        df.write.mode("overwrite").parquet(hitDir)
        (spark.read.parquet(hitDir), false)
      }
    }
  }

  /** Shuffle-free equi-join with a co-partitioned table (identical leaf
    * regions, position-compatible row-key types): one sorted merge-join
    * task per leaf pair, no shuffle, no sort — see
    * [[graft.operators.CoJoin]].
    */
  def coJoin(other: GraftTable, joinType: String = "inner"): DataFrame =
    graft.operators.CoJoin.join(this, other, joinType)

  /** The table's append log as a streaming DataFrame — state-store
    * versions as offsets, each ingested row delivered exactly once
    * (see graft.sources.GraftMicroBatchStream for the full contract).
    */
  def changes: DataFrame = spark.readStream.format("graft").load(dir)

  /** Batch CDC, insert feed: the rows INGESTED into the table in the
    * state-version window `(fromVersion, toVersion]`, each tagged with
    * the commit version that added it (`_commit_version`). Compaction
    * outputs are excluded (dataChange=false — their rows were already
    * reported from the files they merged), so each ingested row appears
    * exactly once; `fromVersion = 0` means snapshot semantics (all live
    * rows at `toVersion`, the initial-load contract the table-changes
    * stream uses). Rows are reported AS INGESTED — before
    * compaction-time continual aggregation and before any tombstone
    * suppression; pair with [[deletedKeysBetween]] for the delete side.
    * Readable while the snapshot chain retains the window AND garbage
    * collection has not deleted files committed inside it — the
    * bounded-history contract shared with the stream. At 100 TB this is
    * O(changed files) metadata + a scan of only the changed files — the
    * incremental-consumer path that avoids re-reading the table.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val (stTo, _) = feedWindow(fromVersion, toVersion)
    val files =
      if (fromVersion == 0L)
        stTo.fileReferences
          .map(r => (toVersion, r.filename, r.physicalPartitionId, r.seq)).distinct
      else ChangeFeed.walk(s"$dir/meta", fromVersion, toVersion)
        .collect { case e if !e.isTombstone => (e.version, e.filename, e.home, e.seq) }
    readFeedFiles(files, stTo.schema.toStructType)
  }

  /** Batch CDC, delete feed: the row keys DELETED (tombstoned) in
    * `(fromVersion, toVersion]`, tagged with the commit version. The
    * walk reads per-version manifests, so a tombstone added and retired
    * by a compaction inside the window is still reported — an endpoint
    * snapshot diff would lose it. `fromVersion = 0` reports the
    * tombstones still pending at `toVersion` (already-purged deletes are
    * physically absent from the snapshot the insert feed reads).
    */
  def deletedKeysBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val (stTo, _) = feedWindow(fromVersion, toVersion)
    val keySt = org.apache.spark.sql.types.StructType(stTo.schema.rowKeys.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)))
    val files =
      if (fromVersion == 0L)
        stTo.tombstones
          .map(r => (toVersion, r.filename, r.physicalPartitionId, r.seq)).distinct
      else ChangeFeed.walk(s"$dir/meta", fromVersion, toVersion)
        .collect { case e if e.isTombstone => (e.version, e.filename, e.home, e.seq) }
    readFeedFiles(files, keySt)
  }

  private def feedWindow(from: Long, to: Long): (StateStore, Long) = {
    require(from >= 0 && to >= from, s"bad version window ($from, $to]")
    val meta = s"$dir/meta"
    require(JsonStateStore.latestVersionIn(meta).isDefined,
      s"change feed needs a persisted version chain at $meta")
    (JsonStateStore.loadAt(meta, to), to)
  }

  /** Read a set of (version, filename, home, seq) files with an explicit
    * schema (older files null-fill evolved columns), appending the
    * commit version and write-generation seq columns — `_commit_seq`
    * orders the logical commits WITHIN a batched-committer version
    * (several generations can share one log version). One read per
    * distinct (version, seq).
    */
  private def readFeedFiles(files: Seq[(Long, String, String, Long)],
      st: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val out = st
      .add("_commit_version", org.apache.spark.sql.types.LongType, false)
      .add("_commit_seq", org.apache.spark.sql.types.LongType, false)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    else files.groupBy(f => (f._1, f._4)).toSeq.sortBy(_._1).map { case ((v, seq), fs) =>
      spark.read.schema(st).parquet(fs.map(f => filePath(f._3, f._2)): _*)
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_seq", lit(seq))
    }.reduce(_.unionAll(_))
  }

  /** Schema evolution: append one NULLABLE value column. O(1) metadata
    * — no data rewrite. Files written before the change lack the column
    * and every reader (query, DSv2, compaction merge) fills it with
    * nulls; compaction converges files to the widened schema as it
    * rewrites them. Keys/sort order never change, so sort order, split
    * points and sketches stay valid. Refused on aggregation-configured
    * tables: the persisted agg config must cover every value column,
    * and it cannot be updated atomically with the schema here.
    */
  def addColumn(field: GraftField): Unit = {
    store.assertWritable()
    require(config.aggregationConfig.trim.isEmpty,
      "cannot add a column to an aggregation-configured table " +
        s"(agg config '${config.aggregationConfig}' must cover every value column)")
    store.addColumn(field)
  }

  /** Deep clone AS OF a state version: a fully independent table at
    * `destDir` whose initial snapshot carries the source's partition
    * tree, file references (write-generation seqs included — LWW
    * semantics survive), pending delete markers, streaming txn
    * watermarks, and table config. Data files and their sketch sidecars
    * are byte-copied in ONE executor-parallel pass — layout, sort order,
    * and per-file metadata are preserved, so the clone needs NO shuffle,
    * NO re-sort, and NO sketch rebuild (`export`+re-ingest pays all
    * three). The copy makes the clone's lifecycle (ingest, compaction,
    * GC) physically unable to touch the source and vice versa — the
    * branch-for-experiments path: clone a production table at a pinned
    * version, mutate freely, throw away. O(data) copy bandwidth but
    * O(1) driver work per file; at 100 TB the copy is the storage
    * fabric's problem (distcp-shaped), not a compute job.
    */
  def cloneAt(destDir: String, version: Long): GraftTable = {
    val snap = graft.meta.JsonStateStore.loadAt(s"$dir/meta", version)
    // Deep-cloning a SHALLOW clone localizes its inherited external
    // (absolute-path) references: copy from the owner's absolute path,
    // land under the clone's own home as a plain name — the result is
    // fully independent either way.
    def localName(fn: String): String = fn.substring(fn.lastIndexOf('/') + 1)
    val files = (snap.fileReferences ++ snap.tombstones)
      .map(r => (r.physicalPartitionId, r.filename)).distinct
    GraftFS.mkdirs(s"$destDir/data")
    val srcData = s"$dir/data"; val dstData = s"$destDir/data"
    val sconf = GraftFS.serializableConf
    if (files.nonEmpty) {
      spark.sparkContext
        .parallelize(files, math.min(files.size, 64))
        .foreach { case (pid, fn) =>
          val c = sconf.value
          val from = if (GraftFS.isExternalName(fn)) fn else s"$srcData/$pid/$fn"
          GraftFS.copyFile(from, s"$dstData/$pid/${localName(fn)}", c)
          val sk = s"$from.sketches"
          if (new org.apache.hadoop.fs.Path(sk).getFileSystem(c)
              .exists(new org.apache.hadoop.fs.Path(sk)))
            GraftFS.copyFile(sk, s"$dstData/$pid/${localName(fn)}.sketches", c)
        }
    }
    // clone refs point at their own copies: the physical home IS the
    // (possibly pre-split) partition id, preserved verbatim above
    val store = graft.meta.JsonStateStore.createFrom(s"$destDir/meta",
      snap.schema, snap.partitionTree,
      snap.fileReferences.toVector.map(r => r.copy(filename = localName(r.filename))),
      snap.tombstones.toVector.map(r => r.copy(filename = localName(r.filename))),
      snap.txnWatermarks,
      aggregationConfig = snap.aggregationConfig, filterConfig = snap.filterConfig,
      transformConfig = snap.transformConfig, indexConfig = snap.indexConfig)
    new GraftTable(spark, destDir, store, TableConfig(
      aggregationConfig = snap.aggregationConfig, filterConfig = snap.filterConfig,
      transformConfig = snap.transformConfig, indexConfig = snap.indexConfig))
  }

  /** Shallow (zero-copy) clone AS OF a state version: a new table whose
    * initial snapshot carries the source's partition tree, config, and
    * file references — but the references point at the SOURCE's data
    * files by absolute path instead of copying them (Delta SHALLOW
    * CLONE's absolute-path contract; the reference has no clone at all —
    * its nearest shape is re-ingesting an export). O(metadata) regardless
    * of data size: branching a 100 TB table is one state-store write.
    *
    * The clone's own lifecycle never touches the source's bytes: new
    * ingests land as plain-named files under the clone's data dir,
    * compaction REWRITES inherited data locally (the external refs just
    * fall out of reference), and the clone's GC recognizes external
    * names and clears queue entries without deleting the source's files.
    * The inverse hazard is inherited from the Delta contract and must be
    * operated around, not coded around: the SOURCE's GC does not know
    * about clones, so aging the source past its retention can strand a
    * clone's inherited references — pin source retention while shallow
    * clones live, or deep-clone ([[cloneAt]]) for independence.
    */
  def shallowCloneAt(destDir: String, version: Long): GraftTable = {
    val snap = graft.meta.JsonStateStore.loadAt(s"$dir/meta", version)
    // Always fully qualify (scheme + authority, Delta's absolute-path
    // shallow-clone contract): a schemeless absolute path embedded
    // verbatim re-resolves against whatever default FS the READER has,
    // so a clone created under file:// and read under hdfs:// (or vice
    // versa) would chase its external refs on the wrong filesystem.
    val (fs0, rootP) = GraftFS.resolve(dir)
    val srcRoot = fs0.makeQualified(rootP).toString
    def ext(r: FileReference): FileReference =
      if (GraftFS.isExternalName(r.filename)) r // clone-of-clone: keep the ORIGINAL owner's path
      else r.copy(filename = s"$srcRoot/data/${r.physicalPartitionId}/${r.filename}")
    GraftFS.mkdirs(s"$destDir/data")
    val store2 = graft.meta.JsonStateStore.createFrom(s"$destDir/meta",
      snap.schema, snap.partitionTree,
      snap.fileReferences.toVector.map(ext), snap.tombstones.toVector.map(ext),
      snap.txnWatermarks,
      aggregationConfig = snap.aggregationConfig, filterConfig = snap.filterConfig,
      transformConfig = snap.transformConfig, indexConfig = snap.indexConfig)
    new GraftTable(spark, destDir, store2, TableConfig(
      aggregationConfig = snap.aggregationConfig, filterConfig = snap.filterConfig,
      transformConfig = snap.transformConfig, indexConfig = snap.indexConfig))
  }

  /** Deterministic key-range sample: every `everyKth` leaf (key order,
    * starting at `offset`) read through the normal region-pruned query
    * path — the scan touches ONLY the sampled leaves' files. For quick
    * estimates over a huge table, scale results by the sampled-row
    * fraction, which the state store knows EXACTLY (committed footer
    * counts), no data IO: est(total) = agg(sample) / fraction. Unlike
    * row-level TABLESAMPLE this reads contiguous key ranges (IO-optimal,
    * repeatable across runs/engines); the trade-off is key-correlated
    * strata — fine for key-independent stats, biased if the metric
    * tracks the key. Not a statistical RNG sample by design: the same
    * call always reads the same rows.
    */
  def leafSample(everyKth: Int, offset: Int = 0): DataFrame = {
    require(everyKth >= 1 && offset >= 0 && offset < everyKth,
      s"need everyKth >= 1 and 0 <= offset < everyKth, got ($everyKth, $offset)")
    query(graft.query.GraftQuery.forRegions(sampledLeafRegions(everyKth, offset): _*))
  }

  /** The sampled-row fraction of [[leafSample]] from state-store
    * metadata alone (exact, no data IO). References on ancestor
    * partitions (between split and reference-split) are excluded from
    * both sides for consistency; fully-compacted tables have none.
    */
  def leafSampleFraction(everyKth: Int, offset: Int = 0): Double = {
    val picked = sampledLeafRegions(everyKth, offset)
      .flatMap(_.ranges.headOption.map(_.min)).toSet
    val leaves = sortedLeaves
    val byLeaf = store.fileReferences.groupBy(_.partitionId)
    def rowsOf(ids: Seq[String]) =
      ids.flatMap(byLeaf.getOrElse(_, Nil)).map(_.rowCount).sum
    val total = rowsOf(leaves.map(_.id))
    val sampled = rowsOf(leaves.filter(l =>
      picked.contains(l.region.ranges.head.min)).map(_.id))
    if (total == 0) 0.0 else sampled.toDouble / total
  }

  private def sampledLeafRegions(everyKth: Int, offset: Int): Seq[Region] =
    sortedLeaves.zipWithIndex.collect {
      case (l, i) if i % everyKth == offset => l.region
    }

  /** Leaves in key order of the first row-key dimension. */
  private def sortedLeaves: Seq[Partition] =
    store.partitionTree.leaves.sortWith { (x, y) =>
      (x.region.ranges.head.min, y.region.ranges.head.min) match {
        case (None, None) => false
        case (None, _) => true
        case (_, None) => false
        case (Some(a: Long), Some(b: Long)) => a < b
        case (Some(a: Int), Some(b: Int)) => a < b
        case (Some(a: String), Some(b: String)) => a < b
        case _ => false
      }
    }

  /** Table metrics from the state store alone (A6; reference
    * TableMetrics.java:39-134).
    */
  def metrics: TableMetrics = {
    val refs = store.fileReferences
    val tree = store.partitionTree
    val byPartition = refs.groupBy(_.partitionId)
    TableMetrics(
      fileCount = refs.map(_.filename).distinct.size,
      rowCount = refs.map(_.rowCount).sum,
      partitionCount = tree.partitions.size,
      leafPartitionCount = tree.leaves.size,
      averageFileReferencesPerPartition =
        if (byPartition.isEmpty) 0.0
        else byPartition.values.map(_.size).sum.toDouble / byPartition.size)
  }
}

final case class TableMetrics(
    fileCount: Int,
    rowCount: Long,
    partitionCount: Int,
    leafPartitionCount: Int,
    averageFileReferencesPerPartition: Double)

object GraftTable {

  def create(spark: SparkSession, dir: String, schema: GraftSchema,
      splitPoints: Seq[Any] = Nil, config: TableConfig = TableConfig()): GraftTable = {
    val tree = PartitionTree.fromSplitPoints(schema, splitPoints)
    val store = JsonStateStore.create(s"$dir/meta", schema, tree,
      config.aggregationConfig, config.filterConfig, config.transformConfig,
      indexConfig = config.indexConfig)
    GraftFS.mkdirs(s"$dir/data")
    new GraftTable(spark, dir, store, config)
  }

  /** Load from disk; the persisted aggregation/filter config is applied
    * unless the caller overrides it.
    */
  /** `commitUrl`: route this handle's state-store commits through a
    * committer service ([[graft.meta.HttpCasServer]] `/commit`) so
    * concurrent processes' commits fold into shared batched log
    * versions. None = the `graft.commit.url` system property decides
    * (set it once per process to route every table handle).
    */
  def load(spark: SparkSession, dir: String, config: Option[TableConfig] = None,
      commitUrl: Option[String] = None): GraftTable = {
    val store = JsonStateStore.load(s"$dir/meta", commitUrl = commitUrl)
    val cfg = config.getOrElse(TableConfig(
      aggregationConfig = store.aggregationConfig, filterConfig = store.filterConfig,
      transformConfig = store.transformConfig, indexConfig = store.indexConfig))
    new GraftTable(spark, dir, store, cfg)
  }

  /** Time-travel load: the table exactly as of state-store version
    * `version` (see `JsonStateStore.currentVersion` for capturing one).
    * Every read works against the historical partition tree and file
    * references; mutations throw. Readable while the snapshot chain
    * retains the version AND garbage collection has not yet deleted
    * files that were live then — the same bounded-history contract as
    * the reference's transaction-log snapshots.
    */
  def loadAsOf(spark: SparkSession, dir: String, version: Long,
      config: Option[TableConfig] = None): GraftTable = {
    val store = JsonStateStore.loadAt(s"$dir/meta", version)
    val cfg = config.getOrElse(TableConfig(
      aggregationConfig = store.aggregationConfig, filterConfig = store.filterConfig,
      transformConfig = store.transformConfig, indexConfig = store.indexConfig))
    new GraftTable(spark, dir, store, cfg)
  }
}
