package graft.meta

import java.util.Base64
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.types.DataType
import graft.core._

/** File-backed transaction-log state store — the reference's design
  * (docs/design/transaction-log-state-store.md,
  * java/core/.../statestore/transactionlog/): each commit appends a
  * small O(changes) transaction entry `txn-v{N}.json`, serialized by a
  * conditional put on the version name (publish-if-absent = compare-and-
  * set on N); a full `state-v{N}.json` snapshot lands only every
  * [[JsonStateStore.SnapshotInterval]] versions (plus v1 at creation,
  * which must carry the schema and table config), so commit cost no
  * longer grows with table size and reader replay is bounded by the
  * interval. Readers reconstruct any version from the newest parseable
  * snapshot at-or-below it plus the transaction tail.
  *
  * All IO goes through the Hadoop FileSystem API, so the log can live on
  * file://, hdfs://, or any Hadoop store; the CAS primitive itself is
  * pluggable ([[StateStoreCAS]]) so an external conditional-put store —
  * the reference's DynamoDB transaction log — slots in where the
  * filesystem can't express one. Tables written by the earlier
  * snapshot-per-commit format load unchanged: an old `state-v{N}.json`
  * is simply a snapshot whose version has no transaction tail, and new
  * commits append transactions after it.
  */
class JsonStateStore private (
    fs: FileSystem, dir: Path, cas: StateStoreCAS,
    schema0: GraftSchema, initialTree: PartitionTree, private var version: Long,
    /** table-level continual aggregation / persistent filter config —
      * table metadata in the reference; persisted so any consumer (e.g.
      * the DSv2 provider) applies the same read semantics from the path
      * alone. Initial values only: the live config rides in the STATE
      * (TableState.props) so SetProperties edits version through the
      * log like everything else.
      */
    aggregationConfig0: String = "",
    filterConfig0: String = "",
    transformConfig0: String = "",
    indexConfig0: String = "",
    /** committer-service URL — see [[remoteClient]]. */
    commitUrl: Option[String] = None)
    extends InMemoryStateStore(schema0, initialTree) with ConfiguredState {

  props = TableProps(aggregationConfig0, filterConfig0, transformConfig0, indexConfig0)

  override def aggregationConfig: String = tableProps.aggregation
  override def filterConfig: String = tableProps.filter
  override def transformConfig: String = tableProps.transform
  override def indexConfig: String = tableProps.index

  import JsonStateStore._

  /** Remote-commit route (VERDICT r14 #6): when the store is configured
    * with a committer-service URL (explicitly or via the
    * `graft.commit.url` system property), EVERY mutation — ingest,
    * compaction, DML, GC, properties — funnels through the service's
    * batched committer instead of doing its own CAS round-trip, so
    * N processes' commits fold into shared composite log versions.
    * Lazily constructed; one HTTP client per store instance.
    */
  private lazy val remoteClient: Option[HttpCommitterClient] =
    commitUrl.map(new HttpCommitterClient(_))

  override protected def commit(txn: StateTransaction, next: TableState): Unit = {
    remoteClient match {
      case Some(cli) =>
        cli.commit(dir.toString, txn) match {
          case CommitOutcome.Committed =>
            // the service validated against FRESH state and may have
            // folded us into a batch with siblings — disk is the truth
            reloadLatest()
          case CommitOutcome.Duplicate =>
            // idempotent watermark already recorded by another process:
            // the local watermark check raced a stale snapshot. Reload
            // and rethrow as a CAS conflict — withRetry re-runs the
            // mutator, whose watermark check now short-circuits (e.g.
            // addFilesIfAbsent returns false, exactly the replay
            // contract).
            reloadLatest()
            throw new ConcurrentStateException(
              "idempotent transaction already recorded via commit service", null)
          case CommitOutcome.Failed(e) =>
            // the service validated against current state; surface the
            // transaction's own error exactly as a serial commit would
            reloadLatest()
            throw e
        }
        return
      case None => ()
    }
    val nextV = version + 1
    // tmp name must be writer-unique: with a shared name, a concurrent
    // writer could overwrite this writer's staged content before the
    // link lands (silent wrong-content commit) or delete it from under
    // the link (NoSuchFileException) — caught by the stress test.
    val target = arbiterPath(dir, nextV)
    val tmp = new Path(dir,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    // version 1 is always a FULL snapshot (it must carry schema + table
    // config so `load` can bootstrap); every later commit appends only
    // the O(changes) transaction entry
    // Commit wall-clock is PERSISTED in the arbiter record: filesystem
    // mtimes do not survive cp/rsync/backup-restore and differ across
    // stores, so TIMESTAMP AS OF / $history resolve from this field
    // (mtime is only the fallback for logs written before it existed).
    val stamp = "ts" -> (JInt(System.currentTimeMillis()): JValue)
    val body =
      if (nextV == 1L)
        JsonMethods.pretty(JsonMethods.render(JObject(stamp ::
          toJson(schema, next.tree, next.refs,
            next.gc, next.txns, next.props.aggregation, next.props.filter,
            next.props.transform, next.props.index, next.tombstones)
            .asInstanceOf[JObject].obj)))
      else JsonMethods.compact(JsonMethods.render(JObject(stamp ::
        txnToJson(txn).asInstanceOf[JObject].obj)))
    writeText(tmp, body)
    if (!cas.publish(fs, tmp, target)) {
      try fs.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => () }
      // Lost the race: another writer committed v{next}. In-memory fields
      // were never touched (commit receives candidates as arguments), but
      // they are now stale — reload disk truth so the caller can retry.
      reloadLatest()
      // If the reload did NOT advance to v{next}, the conflicting file is
      // unreadable — a live fallback writer mid-fill or a crashed writer's
      // empty husk. Retrying immediately would lose the same CAS until the
      // quarantine grace expires (far longer than withRetry's ~20 fast
      // attempts). commit always runs INSIDE the store's monitor
      // (mutators synchronize), so the wait must not happen here — it
      // would block every reader and sibling writer for up to the grace
      // window. Tag the exception; withRetry's catch (outside the
      // monitor) does the bounded wait via onCasConflict.
      throw new ConcurrentStateException(s"lost CAS on version $nextV", null,
        unresolvedVersion = if (version < nextV) Some(nextV) else None)
    }
    try fs.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => () }
    // delta manifest needs the pre-commit filename set (still the
    // previous version's refs at this point)
    val prevNames = refs.map(_.filename).toSet
    version = nextV
    super.commit(txn, next)
    val (dataAdded, tombAdded) = addedRefs(txn)
    // the manifest records the seqs AS STAMPED by applyTo (the txn's own
    // refs may still carry seq=0): resolve against the committed state
    val seqOf: Map[String, Long] =
      (next.refs ++ next.tombstones).map(r => r.filename -> r.seq).toMap
    def stamped(rs: Vector[FileReference]) =
      rs.map(r => seqOf.get(r.filename).fold(r)(s => r.copy(seq = s)))
    writeDelta(nextV, stamped(dataAdded.filterNot(r => prevNames.contains(r.filename))),
      stamped(tombAdded),
      isRestore = txn.isInstanceOf[StateTransaction.Restore])
    if (nextV % SnapshotInterval == 0) {
      writeSnapshot(nextV, next)
      pruneOldVersions(nextV)
    }
  }

  /** The refs a transaction ADDS (for the delta manifest): (data files,
    * tombstone files) — tombstones are recorded so the batch change feed
    * (GraftTable.deletedKeysBetween) can report deletes that were added
    * AND retired inside one window without replaying snapshots.
    */
  private def addedRefs(txn: StateTransaction)
      : (Vector[FileReference], Vector[FileReference]) = txn match {
    case StateTransaction.AddFiles(rs, _) => (rs, Vector.empty)
    // the committed output carries dataChange=false (see ReplaceFiles.applyTo)
    case StateTransaction.ReplaceFiles(_, _, out, _, _) =>
      (out.map(_.copy(dataChange = false)).toVector, Vector.empty)
    case StateTransaction.AddTombstones(rs) => (Vector.empty, rs)
    // MERGE INTO: one version adds data files AND delete markers
    case StateTransaction.Merge(adds, tombs, _) => (adds, tombs)
    // a batched version's manifest is the union of its children's, in
    // commit order (the refs' seqs keep the within-version ordering)
    case StateTransaction.Batch(txns) =>
      txns.map(addedRefs).foldLeft((Vector.empty[FileReference], Vector.empty[FileReference])) {
        case ((a, t), (a2, t2)) => (a ++ a2, t ++ t2)
      }
    case _ => (Vector.empty, Vector.empty)
  }

  /** Write `delta-v{N}.json` — the files ADDED at version N, the tiny
    * manifest the table-changes stream plans micro-batches from without
    * parsing snapshots or replaying transactions (O(changes) per
    * version). Written only AFTER the CAS publish succeeds, so a delta
    * can only ever describe the version's true winning commit — a losing
    * or crashed writer never writes one, and a missing delta just routes
    * the stream to its state-walk fallback. Best-effort by design.
    */
  private def writeDelta(v: Long, added: Vector[FileReference],
      tombstones: Vector[FileReference] = Vector.empty,
      isRestore: Boolean = false): Unit = try {
    // one entry per physical file (a pre-split can reference one file
    // from several partitions; the flags agree by construction)
    val byFile = added.groupBy(_.filename).toSeq.sortBy(_._1).map(_._2.head)
    val byTomb = tombstones.groupBy(_.filename).toSeq.sortBy(_._1).map(_._2.head)
    val json = JObject(
      "version" -> JInt(v),
      // RESTORE marker: the change feed plans this version as a reset
      // diff (retract pre-state, re-deliver the restored state) instead
      // of an added-files list — see graft.table.ChangeFeed
      "restore" -> (if (isRestore) JBool(true) else JNothing),
      "added" -> JArray(byFile.map(ref => JObject(
        "filename" -> JString(ref.filename),
        "home" -> JString(ref.physicalPartitionId),
        "dataChange" -> JBool(ref.dataChange),
        "seq" -> JInt(ref.seq))).toList ++
        byTomb.map(ref => JObject(
          "filename" -> JString(ref.filename),
          "home" -> JString(ref.physicalPartitionId),
          // a tombstone is not table data: the table-changes stream and
          // the insert feed must both skip it (dataChange=false), while
          // the delete feed selects exactly the tombstone entries
          "dataChange" -> JBool(false),
          "tombstone" -> JBool(true),
          "seq" -> JInt(ref.seq))).toList))
    val tmp = new Path(dir, s".delta-v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    writeText(tmp, JsonMethods.compact(JsonMethods.render(json)))
    if (!fs.rename(tmp, new Path(dir, s"delta-v$v.json")))
      fs.delete(tmp, false)
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Periodic full snapshot bounding replay. Derived data with a single
    * writer (the CAS winner of `txn-v{N}`), published by plain atomic
    * rename; best-effort — a missing snapshot only means readers replay
    * further back from the previous one.
    */
  private def writeSnapshot(v: Long, s: TableState): Unit = try {
    val tmp = new Path(dir, s".state-v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    writeText(tmp, JsonMethods.pretty(JsonMethods.render(toJson(schema, s.tree, s.refs,
      s.gc, s.txns, s.props.aggregation, s.props.filter, s.props.transform,
      s.props.index, s.tombstones))))
    if (!fs.rename(tmp, new Path(dir, s"state-v$v.json")))
      fs.delete(tmp, false)
  } catch { case scala.util.control.NonFatal(_) => () }

  private def writeText(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  /** The grace-window wait for an unreadable rival commit happens here,
    * in withRetry's catch — OUTSIDE the store's monitor — so readers
    * (partitionTree/fileReferences) and sibling writers keep flowing
    * while one writer waits out a crashed fallback commit.
    */
  override protected def onCasConflict(e: ConcurrentStateException, attempt: Int): Unit =
    e.unresolvedVersion match {
      case Some(next) => awaitConflictResolution(next)
      case None => super.onCasConflict(e, attempt)
    }

  /** A version name is taken by a file that doesn't (yet) parse. Poll
    * until a live writer fills it (reload then advances past it), it is
    * quarantined away (name free again), or the quarantine grace expires —
    * after which the final reload quarantines the husk itself. Keeps a
    * writer behind a crashed fallback commit blocked for AT MOST the
    * grace window, instead of failing every retry for the same duration.
    */
  private def awaitConflictResolution(next: Long): Unit = {
    val target = arbiterPath(dir, next)
    val deadline =
      try fs.getFileStatus(target).getModificationTime + JsonStateStore.QuarantineGraceMs + 500
      catch { case scala.util.control.NonFatal(_) => return } // already gone
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      reloadLatest()
      if (version >= next) return // conflicting commit became readable
      if (!fs.exists(target)) return // quarantined — the name is free again
    }
    reloadLatest() // past the grace: the reload may now quarantine it
  }

  /** Retention: readers need a snapshot at-or-below any version they may
    * reconstruct plus the transaction tail after it. Time travel promises
    * the last [[RetainedVersions]] versions, so everything below the
    * newest snapshot that is ≤ (latest − retention) can go. Runs only on
    * snapshot commits (one directory listing per interval, not per
    * commit); best-effort.
    */
  private def pruneOldVersions(latest: Long): Unit = try {
    val floorWanted = latest - RetainedVersions
    if (floorWanted <= 1) return
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val snaps = names.collect { case SnapName(v) => v.toLong }
    val eligible = snaps.filter(_ <= floorWanted)
    if (eligible.isEmpty) return
    val floorSnap = eligible.max
    names.foreach { n =>
      val drop = n match {
        case SnapName(v) => v.toLong < floorSnap
        case TxnName(v) => v.toLong <= floorSnap // the floor snapshot subsumes them
        case DeltaName(v) => v.toLong <= floorSnap
        case _ => false
      }
      if (drop)
        try fs.delete(new Path(dir, n), false)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Bring memory up to disk truth. Incremental: replay transactions
    * forward from the in-memory version — O(changes since), never a full
    * snapshot parse (the log store's cheap-reload payoff; the snapshot
    * store re-parsed O(table) JSON on every lost CAS). Stops at the
    * first absent/unreadable entry, applying the same conservative
    * quarantine rules as a cold load (which is what eventually frees a
    * crashed writer's husk at the head).
    */
  def reloadLatest(): Unit = synchronized {
    if (version == 0) { // pre-initial-commit loser (create race): cold load
      val l = loadCurrent(fs, dir)
      setState(l.state.tree, l.state.refs, l.state.gc, l.state.txns, l.state.tombstones,
        l.state.props)
      version = l.version
      return
    }
    var state = currentState
    var v = version + 1
    var advanced = false
    var done = false
    while (!done) {
      val p = new Path(dir, s"txn-v$v.json")
      readFile(fs, p) match {
        case FileContent(text) =>
          parseRecord(fs, dir, p, text, txnFromJson) match {
            case Some(t) => state = t.applyTo(state); advanced = true; v += 1
            case None => done = true // unreadable head (quarantined if eligible)
          }
        case _ => done = true // absent or IO error: head reached
      }
    }
    if (advanced) {
      setState(state.tree, state.refs, state.gc, state.txns, state.tombstones,
        state.props)
      version = v - 1
    }
  }

  private[meta] def setState(t: PartitionTree, r: Vector[FileReference],
      g: Vector[GCEntry], x: Map[String, Long],
      tm: Vector[FileReference] = Vector.empty,
      p: TableProps = null): Unit = {
    tree = t; refs = r; gcQueue = g; txns = x; tombstoneRefs = tm
    if (p != null) props = p
  }

  def currentVersion: Long = version

  private[meta] def commitInitial(): Unit = synchronized {
    commit(StateTransaction.Init, currentState)
  }
}

/** An immutable historical snapshot of a table's state — the time-travel
  * read surface. Every query-path consumer (the DSv2 scan behind
  * GraftTable.query and SQL, metrics) only reads, so a snapshot store drops into
  * [[graft.table.GraftTable]] unchanged; any mutation throws.
  */
final class SnapshotStateStore(
    schema0: GraftSchema, tree0: PartitionTree,
    refs0: Vector[FileReference], gc0: Vector[GCEntry], txns0: Map[String, Long],
    val version: Long,
    val aggregationConfig: String, val filterConfig: String, val transformConfig: String,
    val indexConfig: String = "",
    tombstones0: Vector[FileReference] = Vector.empty)
    extends InMemoryStateStore(schema0, tree0) with ConfiguredState {
  refs = refs0; gcQueue = gc0; txns = txns0; tombstoneRefs = tombstones0
  props = TableProps(aggregationConfig, filterConfig, transformConfig, indexConfig)

  override def currentVersion: Long = version

  override def readOnly: Boolean = true

  // backstop: jobs check assertWritable() before touching the
  // filesystem, but any mutation that slips through dies here too
  override protected def commit(txn: StateTransaction, next: TableState): Unit =
    throw new UnsupportedOperationException(
      s"table snapshot at version $version is read-only (time-travel view)")
}

/** `unresolvedVersion` = the CAS was lost to a version that could not be
  * reloaded (unreadable rival — live fallback writer mid-fill or crashed
  * husk); the retry loop should wait out the conflict before retrying.
  */
class ConcurrentStateException(msg: String, cause: Throwable,
    val unresolvedVersion: Option[Long] = None) extends RuntimeException(msg, cause)

object JsonStateStore {

  /** Reconstructable versions kept in the log (see pruneOldVersions). */
  val RetainedVersions = 50L

  /** A full snapshot lands every this-many commits, bounding reader
    * replay to at most this many transaction entries past the newest
    * snapshot. Overridable (tests, read-heavy deployments) via system
    * property.
    */
  def SnapshotInterval: Long =
    java.lang.Long.getLong("graft.state.snapshot.interval", 25L)

  /** Age before an unparseable commit record may be quarantined — younger
    * ones may be a live writer's reserved-but-unfilled version.
    * Overridable (tests, fast-failover deployments) via system property.
    */
  def QuarantineGraceMs: Long =
    java.lang.Long.getLong("graft.state.quarantine.grace.ms", 60000L)

  private val SnapName = "state-v(\\d+)\\.json".r
  private val TxnName = "txn-v(\\d+)\\.json".r
  private val DeltaName = "delta-v(\\d+)\\.json".r

  /** The file whose conditional put commits version `v`: the full
    * snapshot for v1 (it bootstraps schema + config), the transaction
    * entry for every later version.
    */
  private def arbiterPath(dir: Path, v: Long): Path =
    if (v == 1L) new Path(dir, "state-v1.json") else new Path(dir, s"txn-v$v.json")

  def create(dirStr: String, schema: GraftSchema, tree: PartitionTree,
      aggregationConfig: String = "", filterConfig: String = "",
      transformConfig: String = "", cas: Option[StateStoreCAS] = None,
      indexConfig: String = ""): JsonStateStore = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    fs.mkdirs(dir)
    BloomIndex.validate(schema, indexConfig)
    val store = new JsonStateStore(fs, dir, cas.getOrElse(GraftFS.casFor(fs)),
      schema, tree, 0L, aggregationConfig, filterConfig, transformConfig, indexConfig)
    store.commitInitial() // writes state-v1.json
    store
  }

  /** `commitUrl = None` consults the `graft.commit.url` system property
    * (the process-wide deployment switch: set it and EVERY table handle
    * in the process routes commits through the service); pass
    * `Some("")` to force local commits (the service's own stores must
    * not recurse into themselves).
    */
  def load(dirStr: String, cas: Option[StateStoreCAS] = None,
      commitUrl: Option[String] = None): JsonStateStore = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    val l = loadCurrent(fs, dir)
    val effectiveUrl = commitUrl.orElse(sys.props.get("graft.commit.url"))
      .filter(_.nonEmpty)
    val store = new JsonStateStore(fs, dir, cas.getOrElse(GraftFS.casFor(fs)),
      l.schema, l.state.tree, l.version, l.agg, l.filt, l.tf, l.idx,
      commitUrl = effectiveUrl)
    store.setState(l.state.tree, l.state.refs, l.state.gc, l.state.txns,
      l.state.tombstones)
    store
  }

  /** Bootstrap a store whose INITIAL snapshot already carries table
    * state — the deep-clone path (GraftTable.cloneAt): v1 is a full
    * snapshot of the cloned refs/tombstones/watermarks under the cloned
    * tree and config. Write-generation seqs ride in the refs unchanged,
    * so order-sensitive (`last`) semantics survive the clone; the GC
    * queue starts empty (the clone owns only live files).
    */
  def createFrom(dirStr: String, schema: GraftSchema, tree: PartitionTree,
      refs: Vector[FileReference], tombstones: Vector[FileReference],
      txns: Map[String, Long],
      aggregationConfig: String = "", filterConfig: String = "",
      transformConfig: String = "", indexConfig: String = "",
      cas: Option[StateStoreCAS] = None): JsonStateStore = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    require(!fs.exists(new Path(dir, "state-v1.json")),
      s"refusing to clone onto an existing table at $dirStr")
    fs.mkdirs(dir)
    BloomIndex.validate(schema, indexConfig)
    val store = new JsonStateStore(fs, dir, cas.getOrElse(GraftFS.casFor(fs)),
      schema, tree, 0L, aggregationConfig, filterConfig, transformConfig, indexConfig)
    store.setState(tree, refs, Vector.empty, txns, tombstones)
    store.commitInitial() // v1 = full snapshot with the cloned state
    store
  }

  /** Newest committed version number from the directory listing alone —
    * no record content is read or parsed. The cheap poll for offset
    * discovery (the table-changes stream calls this every trigger).
    */
  def latestVersionIn(dirStr: String): Option[Long] = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    latestVersion(fs, dir)
  }

  /** The newest state version whose commit landed at or before
    * `epochMs` — SQL `TIMESTAMP AS OF` resolution. Commit time is the
    * `ts` field persisted in the arbiter record at publish (stable
    * across copies/migrations; see retainedVersionsIn), so the mapping
    * is monotone over the retained log. None when the oldest retained
    * commit is already newer than `epochMs`.
    */
  def versionAtOrBefore(dirStr: String, epochMs: Long): Option[Long] =
    retainedVersionsIn(dirStr).filter(_._2 <= epochMs).map(_._1).maxOption

  /** The transaction type committed at a retained version — "create"
    * for v1, the codec tag ("addFiles", "replaceFiles", "merge",
    * "batch[n]", …) otherwise, "unknown" when the record is absent or
    * unreadable. DESCRIBE-HISTORY-style labeling for the `$history`
    * metadata table; one tiny JSON read per version, bounded by
    * retention.
    */
  def operationAt(dirStr: String, version: Long): String = {
    if (version == 1L) return "create"
    val (fs, dir) = GraftFS.resolve(dirStr)
    try {
      val p = new Path(dir, s"txn-v$version.json")
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      JsonMethods.parse(text) match {
        case o: JObject =>
          val m = o.obj.toMap
          m.get("txn") match {
            case Some(JString("batch")) =>
              val n = m.get("txns").collect { case JArray(xs) => xs.size }.getOrElse(0)
              s"batch[$n]"
            case Some(JString(t)) => t
            case _ => "unknown"
          }
        case _ => "unknown"
      }
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
  }

  /** Retained (version, commit epoch-ms) pairs, ascending by version —
    * the arbiter/snapshot files still on disk. The commit time is the
    * `ts` field PERSISTED in the version's arbiter record at publish —
    * stable across file copies, rsync, and backup/restore, unlike
    * mtimes. For logs written before the field existed, the fallback is
    * the file's modification time (a periodic snapshot state-v{N} is
    * written AFTER its version's arbiter and may be newer, so the
    * EARLIEST mtime seen per version wins).
    */
  def retainedVersionsIn(dirStr: String): Seq[(Long, Long)] = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SnapName(v) => Some(v.toLong -> st.getModificationTime)
        case TxnName(v) => Some(v.toLong -> st.getModificationTime)
        case _ => None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq.sortBy(_._1)
      .map { case (v, mtime) => v -> commitTs(fs, dir, v).getOrElse(mtime) }
  }

  /** The commit wall-clock persisted in version `v`'s arbiter record
    * ("ts", stamped at CAS publish). None for pre-field logs, absent or
    * unreadable arbiters.
    */
  private def commitTs(fs: FileSystem, dir: Path, v: Long): Option[Long] = try {
    val p = arbiterPath(dir, v)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    JsonMethods.parse(text) match {
      case o: JObject => o.obj.toMap.get("ts").collect { case JInt(t) => t.toLong }
      case _ => None
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** One delta-manifest entry: a file committed at a version. Tombstone
    * entries describe row-key delete files (not table data).
    */
  final case class DeltaEntry(filename: String, home: String,
      dataChange: Boolean, tombstone: Boolean,
      /** the file's write-generation seq as committed (0 in manifests
        * from before seqs were recorded): the WITHIN-version commit
        * order, needed by CDC consumers once batched commits can land
        * several logical generations in one log version.
        */
      seq: Long = 0L)

  /** The files added at `version`, from its delta manifest:
    * (filename, home partition dir, dataChange). `None` when the
    * manifest is absent or unreadable — history from before deltas
    * existed, a writer that crashed between commit and delta, or a
    * torn write — in which case callers fall back to diffing the
    * consecutive states (which the manifest merely memoizes).
    */
  def deltaAddedAt(dirStr: String, version: Long): Option[Seq[DeltaEntry]] = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    val p = new Path(dir, s"delta-v$version.json")
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      JsonMethods.parse(text) match {
        case o: JObject =>
          val m = o.obj.toMap
          val declared = m.get("version").collect { case JInt(n) => n.toLong }
          if (!declared.contains(version)) return None
          m.get("added").collect { case JArray(items) =>
            items.map { item =>
              val f = item.asInstanceOf[JObject].obj.toMap
              def str(k: String) = f(k).asInstanceOf[JString].s
              val dc = f.get("dataChange").collect { case JBool(b) => b }.getOrElse(true)
              // absent in pre-round-12 manifests (none carried tombstones)
              val tomb = f.get("tombstone").collect { case JBool(b) => b }.getOrElse(false)
              val seq = f.get("seq").collect { case JInt(n) => n.toLong }.getOrElse(0L)
              DeltaEntry(str("filename"), str("home"), dc, tomb, seq)
            }
          }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Whether `version` committed a RESTORE — preferred source is the
    * delta manifest's marker (one read the change feed already pays);
    * the fallback parses the version's txn record (manifests are
    * best-effort). The change feed plans restore versions as reset
    * diffs, never as added-files lists.
    */
  def isRestoreAt(dirStr: String, version: Long): Boolean = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    val p = new Path(dir, s"delta-v$version.json")
    try {
      if (fs.exists(p)) {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        JsonMethods.parse(text) match {
          case o: JObject =>
            return o.obj.toMap.get("restore").contains(JBool(true))
          case _ => ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    operationAt(dirStr, version) == "restore"
  }

  /** Time travel: the state EXACTLY as of a historical version,
    * reconstructed from the newest snapshot at-or-below it plus the
    * transaction tail. Valid within the retention bounds — pruning keeps
    * the last [[RetainedVersions]] versions reconstructable, and GC
    * physically deletes a file only after it has been unreferenced for
    * the table's GC delay — the same bounded-history contract as the
    * reference's transaction-log snapshots and Delta time travel. Reads
    * work; mutations throw.
    */
  def loadAt(dirStr: String, version: Long): SnapshotStateStore = {
    val (fs, dir) = GraftFS.resolve(dirStr)
    tryLoadVersion(fs, dir, version) match {
      case Some(l) =>
        new SnapshotStateStore(l.schema, l.state.tree, l.state.refs, l.state.gc,
          l.state.txns, version, l.agg, l.filt, l.tf, l.idx, l.state.tombstones)
      case None =>
        throw new IllegalStateException(
          s"state version $version unavailable in $dirStr (pruned after " +
            s"$RetainedVersions newer commits, or never committed)")
    }
  }

  // ---- reconstruction ----

  private final case class Loaded(version: Long, schema: GraftSchema, state: TableState,
      agg: String, filt: String, tf: String, idx: String)

  private sealed trait FileRead
  private case object FileAbsent extends FileRead
  private case object FileIOError extends FileRead
  private final case class FileContent(text: String) extends FileRead

  private def readFile(fs: FileSystem, p: Path): FileRead =
    try {
      if (!fs.exists(p)) FileAbsent
      else {
        val in = fs.open(p)
        try FileContent(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => FileIOError } // IO error: never quarantine

  /** Parse a commit record that was READ successfully; on failure apply
    * the conservative quarantine rules and return None.
    *
    * Quarantine (rename to `.corrupt`) only applies to content that was
    * read successfully but fails to parse. Non-empty garbage is
    * quarantined immediately (fills are atomic links/moves, so partial
    * content never legitimately exists on the filesystem CAS paths). An
    * EMPTY file gets a grace window first: it may be a LIVE fallback
    * writer's just-reserved version — renaming it away would free the
    * version name for a rival and let the first writer's later move
    * silently clobber the rival's committed record (the exact lost-update
    * the create-exclusive CAS exists to prevent).
    */
  private def parseRecord[T](fs: FileSystem, dir: Path, p: Path, text: String,
      parse: String => T): Option[T] =
    try Some(parse(text))
    catch {
      case scala.util.control.NonFatal(_) =>
        val stale =
          try fs.getFileStatus(p).getModificationTime <
            System.currentTimeMillis() - QuarantineGraceMs
          catch { case scala.util.control.NonFatal(_) => false }
        if (text.nonEmpty || stale) {
          try {
            val corrupt = new Path(dir, p.getName + ".corrupt")
            try fs.delete(corrupt, false) catch { case scala.util.control.NonFatal(_) => () }
            // rename returning false (destination re-created concurrently,
            // HDFS-style semantics) would leave the unparseable record in
            // place, re-read and re-quarantined on every load — the content
            // is proven unreadable and past grace, so deleting it loses
            // only a transaction its writer never saw succeed.
            if (!fs.rename(p, corrupt)) fs.delete(p, false)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        None
    }

  /** Reconstruct the state EXACTLY at `target`, or None if the version's
    * committing record is absent/unreadable (after applying quarantine
    * rules) or the chain below it cannot be assembled. The committing
    * record is `txn-v{target}.json` (new format) or `state-v{target}
    * .json` alone (v1 and pre-log history).
    */
  private def tryLoadVersion(fs: FileSystem, dir: Path, target: Long): Option[Loaded] = {
    if (target < 1) return None
    // 1. the committing record at `target`
    val txnP = new Path(dir, s"txn-v$target.json")
    val headTxn: Option[StateTransaction] = readFile(fs, txnP) match {
      case FileContent(text) =>
        parseRecord(fs, dir, txnP, text, txnFromJson) match {
          case Some(t) => Some(t)
          case None => return None // unreadable arbiter (quarantined if eligible)
        }
      case FileIOError => return None
      case FileAbsent => None // snapshot-committed version (v1 / old format) — checked below
    }
    // 2. base snapshot: newest parseable `state-v{b}.json` with b ≤ target.
    //    When the version has no transaction record, the snapshot at
    //    `target` IS the committing record and must itself parse.
    var b = target
    var base: Option[(Long, JValue)] = None
    while (base.isEmpty && b >= 1) {
      val sp = new Path(dir, s"state-v$b.json")
      readFile(fs, sp) match {
        case FileContent(text) =>
          parseRecord(fs, dir, sp, text, JsonMethods.parse(_)) match {
            case Some(j) => base = Some((b, j))
            case None => if (b == target && headTxn.isEmpty) return None
          }
        case FileIOError => if (b == target && headTxn.isEmpty) return None
        case FileAbsent => if (b == target && headTxn.isEmpty) return None
      }
      if (base.isEmpty) b -= 1
    }
    val (baseV, baseJson) = base.getOrElse(return None)
    val snap = fromJson(baseJson)
    val (agg, filt, tf, idx) = configFromJson(baseJson)
    // 3. replay the transaction tail (baseV, target]. Config rides in
    //    the state (SetProperties edits it mid-tail), seeded from the
    //    base snapshot's persisted values.
    var state = TableState(snap.tree, snap.refs, snap.gc, snap.txns, snap.tombstones,
      TableProps(agg, filt, tf, idx))
    var v = baseV + 1
    while (v <= target) {
      val t: StateTransaction =
        if (v == target && headTxn.isDefined) headTxn.get
        else {
          val p = new Path(dir, s"txn-v$v.json")
          readFile(fs, p) match {
            case FileContent(text) =>
              parseRecord(fs, dir, p, text, txnFromJson).getOrElse(return None)
            case _ => return None // mid-chain record missing: cannot reach target
          }
        }
      state = t.applyTo(state)
      v += 1
    }
    Some(Loaded(target, snap.schema, state,
      state.props.aggregation, state.props.filter, state.props.transform,
      state.props.index))
  }

  /** Newest reconstructable state. A crash in the non-hard-link commit
    * fallback can leave a permanently empty/truncated latest record;
    * selecting it forever would brick the table, so readers fall back
    * past unreadable versions (quarantining per parseRecord's rules) —
    * falling back one version only loses the single interrupted
    * transaction, which its writer never saw succeed.
    */
  private def loadCurrent(fs: FileSystem, dir: Path): Loaded = {
    val latest = latestVersion(fs, dir).getOrElse(
      throw new IllegalStateException(s"no state snapshot in $dir"))
    var head = latest
    val floor = math.max(1L, latest - RetainedVersions)
    while (head >= floor) {
      tryLoadVersion(fs, dir, head) match {
        case Some(l) => return l
        case None => head -= 1
      }
    }
    throw new IllegalStateException(s"no parseable state snapshot in $dir")
  }

  /** Newest version NAMED in the directory (snapshot or transaction);
    * content is not read — unreadable heads are resolved by loadCurrent.
    */
  private def latestVersion(fs: FileSystem, dir: Path): Option[Long] = {
    if (!fs.exists(dir)) return None
    var best: Option[Long] = None
    fs.listStatus(dir).foreach { st =>
      val v = st.getPath.getName match {
        case SnapName(n) => Some(n.toLong)
        case TxnName(n) => Some(n.toLong)
        case _ => None
      }
      v.foreach(n => if (best.forall(_ < n)) best = Some(n))
    }
    best
  }

  // ---- transaction JSON codec ----

  private[meta] def txnToJson(txn: StateTransaction): JValue = txn match {
    case StateTransaction.AddFiles(rs, wm) => JObject(
      "txn" -> JString("addFiles"),
      "refs" -> JArray(rs.map(refToJson).toList),
      "app" -> wm.map(w => JString(w._1)).getOrElse(JNothing),
      "appVersion" -> wm.map(w => JInt(w._2)).getOrElse(JNothing))
    case StateTransaction.ReplaceFiles(pid, inputs, out, nowMs, consumed) => JObject(
      "txn" -> JString("replaceFiles"),
      "partitionId" -> JString(pid),
      "inputs" -> JArray(inputs.map(JString(_)).toList),
      "output" -> out.map(refToJson).getOrElse(JNothing),
      "nowMs" -> JInt(nowMs),
      "consumedTombstones" ->
        (if (consumed.isEmpty) JNothing else JArray(consumed.map(JString(_)).toList)))
    case StateTransaction.SplitPartition(parent, dim, point, l, r) => JObject(
      "txn" -> JString("splitPartition"),
      "parentId" -> JString(parent), "dimension" -> JInt(dim),
      "splitPoint" -> keyToJson(point),
      "leftId" -> JString(l), "rightId" -> JString(r))
    case StateTransaction.SplitFileRefs => JObject("txn" -> JString("splitFileRefs"))
    case StateTransaction.AssignJob(job, pid, files) => JObject(
      "txn" -> JString("assignJob"), "jobId" -> JString(job),
      "partitionId" -> JString(pid),
      "filenames" -> JArray(files.map(JString(_)).toList))
    case StateTransaction.RemoveGCFiles(files) => JObject(
      "txn" -> JString("removeGC"),
      "filenames" -> JArray(files.map(JString(_)).toList))
    case StateTransaction.AddColumn(field) => JObject(
      "txn" -> JString("addColumn"),
      "field" -> fieldToJson(field))
    case StateTransaction.RenameColumn(from, to) => JObject(
      "txn" -> JString("renameColumn"),
      "from" -> JString(from), "to" -> JString(to))
    case StateTransaction.DropColumn(name) => JObject(
      "txn" -> JString("dropColumn"),
      "name" -> JString(name))
    case StateTransaction.AddTombstones(refs) => JObject(
      "txn" -> JString("addTombstones"),
      "refs" -> JArray(refs.map(refToJson).toList))
    case StateTransaction.Merge(adds, tombs, wm) => JObject(
      "txn" -> JString("merge"),
      "adds" -> JArray(adds.map(refToJson).toList),
      "tombs" -> JArray(tombs.map(refToJson).toList),
      "app" -> wm.map(w => JString(w._1)).getOrElse(JNothing),
      "appVersion" -> wm.map(w => JInt(w._2)).getOrElse(JNothing))
    case StateTransaction.Truncate(nowMs) => JObject(
      "txn" -> JString("truncate"), "nowMs" -> JInt(nowMs))
    case StateTransaction.Restore(refs, tombs, nowMs) => JObject(
      "txn" -> JString("restore"),
      "refs" -> JArray(refs.map(refToJson).toList),
      "tombs" -> JArray(tombs.map(refToJson).toList),
      "nowMs" -> JInt(nowMs))
    case StateTransaction.SetProperties(updates) => JObject(
      "txn" -> JString("setProps"),
      "updates" -> JObject(updates.toList.sortBy(_._1).map { case (k, v) =>
        k -> (JString(v): JValue)
      }))
    case StateTransaction.Batch(txns) => JObject(
      "txn" -> JString("batch"),
      "txns" -> JArray(txns.map(txnToJson).toList))
    case StateTransaction.Init =>
      throw new IllegalStateException("Init commits as a full snapshot, never a log entry")
  }

  /** Wire form of one transaction (the `/commit` endpoint's body). */
  private[meta] def txnToJsonString(txn: StateTransaction): String =
    JsonMethods.compact(JsonMethods.render(txnToJson(txn)))

  private[meta] def txnFromJson(text: String): StateTransaction =
    txnFromJValue(JsonMethods.parse(text))

  private def txnFromJValue(j: JValue): StateTransaction = {
    val m = j.asInstanceOf[JObject].obj.toMap
    def str(k: String): String = m(k).asInstanceOf[JString].s
    def strs(k: String): Vector[String] =
      m(k).asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s).toVector
    str("txn") match {
      case "addFiles" =>
        val refs = m("refs").asInstanceOf[JArray].arr.map(refFromJson).toVector
        val wm = (m.get("app"), m.get("appVersion")) match {
          case (Some(JString(a)), Some(JInt(v))) => Some(a -> v.toLong)
          case _ => None
        }
        StateTransaction.AddFiles(refs, wm)
      case "replaceFiles" =>
        val out = m.get("output").collect { case o: JObject => refFromJson(o) }
        val JInt(now) = m("nowMs"): @unchecked
        val consumed = m.get("consumedTombstones").collect {
          case JArray(xs) => xs.collect { case JString(s) => s }.toVector
        }.getOrElse(Vector.empty)
        StateTransaction.ReplaceFiles(str("partitionId"), strs("inputs"), out, now.toLong,
          consumed)
      case "splitPartition" =>
        val JInt(dim) = m("dimension"): @unchecked
        StateTransaction.SplitPartition(str("parentId"), dim.toInt,
          keyFromJson(m("splitPoint")), str("leftId"), str("rightId"))
      case "splitFileRefs" => StateTransaction.SplitFileRefs
      case "assignJob" =>
        StateTransaction.AssignJob(str("jobId"), str("partitionId"), strs("filenames"))
      case "removeGC" => StateTransaction.RemoveGCFiles(strs("filenames"))
      case "addColumn" => StateTransaction.AddColumn(fieldFromJson(m("field")))
      case "renameColumn" => StateTransaction.RenameColumn(str("from"), str("to"))
      case "dropColumn" => StateTransaction.DropColumn(str("name"))
      case "addTombstones" =>
        StateTransaction.AddTombstones(
          m("refs").asInstanceOf[JArray].arr.map(refFromJson).toVector)
      case "merge" =>
        val wm = (m.get("app"), m.get("appVersion")) match {
          case (Some(JString(a)), Some(JInt(v))) => Some(a -> v.toLong)
          case _ => None
        }
        StateTransaction.Merge(
          m("adds").asInstanceOf[JArray].arr.map(refFromJson).toVector,
          m("tombs").asInstanceOf[JArray].arr.map(refFromJson).toVector,
          wm)
      case "truncate" =>
        val JInt(now) = m("nowMs"): @unchecked
        StateTransaction.Truncate(now.toLong)
      case "restore" =>
        val JInt(now) = m("nowMs"): @unchecked
        StateTransaction.Restore(
          m("refs").asInstanceOf[JArray].arr.map(refFromJson).toVector,
          m("tombs").asInstanceOf[JArray].arr.map(refFromJson).toVector,
          now.toLong)
      case "setProps" =>
        StateTransaction.SetProperties(
          m("updates").asInstanceOf[JObject].obj.map {
            case (k, JString(v)) => k -> v
            case (k, other) => throw new IllegalArgumentException(
              s"bad property value for '$k': $other")
          }.toMap)
      case "batch" =>
        StateTransaction.Batch(
          m("txns").asInstanceOf[JArray].arr.map(txnFromJValue).toVector)
      case other => throw new IllegalArgumentException(s"unknown transaction type '$other'")
    }
  }

  // ---- JSON codec (key values are tagged so Int/Long/String/bytes round-trip) ----

  private def keyToJson(v: Any): JValue = v match {
    case i: Int => JObject("t" -> JString("int"), "v" -> JInt(i))
    case l: Long => JObject("t" -> JString("long"), "v" -> JInt(l))
    case s: String => JObject("t" -> JString("string"), "v" -> JString(s))
    case b: Array[Byte] =>
      JObject("t" -> JString("bytes"), "v" -> JString(Base64.getEncoder.encodeToString(b)))
    case null => JNull
    case other => throw new IllegalArgumentException(s"unsupported key value ${other.getClass}")
  }

  private def keyFromJson(j: JValue): Any = j match {
    case JNull => null
    case JObject(fields) =>
      val m = fields.toMap
      val JString(t) = m("t"): @unchecked
      (t, m("v")) match {
        case ("int", JInt(i)) => i.toInt
        case ("long", JInt(i)) => i.toLong
        case ("string", JString(s)) => s
        case ("bytes", JString(s)) => Base64.getDecoder.decode(s)
        case other => throw new IllegalArgumentException(s"bad key json: $other")
      }
    case other => throw new IllegalArgumentException(s"bad key json: $other")
  }

  private def optKeyToJson(v: Option[Any]): JValue = v.map(keyToJson).getOrElse(JNothing)

  private def rangeToJson(r: KeyRange): JValue = JObject(
    "field" -> JString(r.field),
    "min" -> optKeyToJson(r.min), "minInclusive" -> JBool(r.minInclusive),
    "max" -> optKeyToJson(r.max), "maxInclusive" -> JBool(r.maxInclusive))

  private def rangeFromJson(j: JValue): KeyRange = {
    val m = j.asInstanceOf[JObject].obj.toMap
    def opt(k: String): Option[Any] = m.get(k).filter(_ != JNothing).filter(_ != JNull).map(keyFromJson)
    val JString(f) = m("field"): @unchecked
    val JBool(mi) = m("minInclusive"): @unchecked
    val JBool(ma) = m("maxInclusive"): @unchecked
    KeyRange(f, opt("min"), mi, opt("max"), ma)
  }

  private def partitionToJson(p: Partition): JValue = JObject(
    "id" -> JString(p.id),
    "region" -> JArray(p.region.ranges.map(rangeToJson).toList),
    "parent" -> p.parentId.map(JString(_)).getOrElse(JNothing),
    "children" -> JArray(p.childIds.map(JString(_)).toList),
    "splitDimension" -> p.splitDimension.map(d => JInt(d)).getOrElse(JNothing),
    "splitPoint" -> optKeyToJson(p.splitPoint))

  private def partitionFromJson(j: JValue): Partition = {
    val m = j.asInstanceOf[JObject].obj.toMap
    val JString(id) = m("id"): @unchecked
    val JArray(rs) = m("region"): @unchecked
    val parent = m.get("parent").collect { case JString(s) => s }
    val JArray(cs) = m("children"): @unchecked
    val dim = m.get("splitDimension").collect { case JInt(i) => i.toInt }
    val sp = m.get("splitPoint").filter(v => v != JNothing && v != JNull).map(keyFromJson)
    Partition(id, Region(rs.map(rangeFromJson)), parent,
      cs.map { case JString(s) => s; case o => sys.error(s"bad child $o") }, dim, sp)
  }

  private def fieldToJson(f: GraftField): JValue = JObject(
    "name" -> JString(f.name), "type" -> JString(f.dataType.json), "nullable" -> JBool(f.nullable),
    "aliases" -> (if (f.aliases.isEmpty) JNothing
      else JArray(f.aliases.map(JString(_)).toList)))

  private def fieldFromJson(j: JValue): GraftField = {
    val m = j.asInstanceOf[JObject].obj.toMap
    val JString(n) = m("name"): @unchecked
    val JString(t) = m("type"): @unchecked
    val JBool(nl) = m("nullable"): @unchecked
    // absent in pre-round-15 snapshots (no column mapping then)
    val al = m.get("aliases").collect {
      case JArray(xs) => xs.collect { case JString(a) => a }
    }.getOrElse(Nil)
    GraftField(n, DataType.fromJson(t), nl, al)
  }

  private def refToJson(r: FileReference): JValue = JObject(
    "filename" -> JString(r.filename), "partitionId" -> JString(r.partitionId),
    "rowCount" -> JInt(r.rowCount), "jobId" -> r.jobId.map(JString(_)).getOrElse(JNothing),
    "homeId" -> r.homeId.map(JString(_)).getOrElse(JNothing),
    "dataChange" -> JBool(r.dataChange),
    "seq" -> (if (r.seq == 0L) JNothing else JInt(r.seq)))

  private def refFromJson(j: JValue): FileReference = {
    val m = j.asInstanceOf[JObject].obj.toMap
    val JString(f) = m("filename"): @unchecked
    val JString(p) = m("partitionId"): @unchecked
    val JInt(c) = m("rowCount"): @unchecked
    FileReference(f, p, c.toLong, m.get("jobId").collect { case JString(s) => s },
      m.get("homeId").collect { case JString(s) => s },
      // absent in pre-round-6 snapshots (migration): conservatively true —
      // a stream starting from such history may re-emit compacted rows,
      // but never silently drops ingested ones
      m.get("dataChange").collect { case JBool(b) => b }.getOrElse(true),
      // absent in pre-round-12 snapshots (no order-sensitive aggregation then)
      m.get("seq").collect { case JInt(n) => n.toLong }.getOrElse(0L))
  }

  private def configFromJson(j: JValue): (String, String, String, String) = {
    val m = j.asInstanceOf[JObject].obj.toMap
    m.get("tableConfig") match {
      case Some(JObject(fields)) =>
        val cm = fields.toMap
        def str(k: String) = cm.get(k).collect { case JString(s) => s }.getOrElse("")
        // "index" absent in pre-round-12 snapshots (migration): no index
        (str("aggregation"), str("filter"), str("transform"), str("index"))
      case _ => ("", "", "", "")
    }
  }

  private def toJson(schema: GraftSchema, tree: PartitionTree,
      refs: Vector[FileReference], gc: Vector[GCEntry], txns: Map[String, Long],
      aggregationConfig: String, filterConfig: String, transformConfig: String,
      indexConfig: String, tombstones: Vector[FileReference] = Vector.empty): JValue = JObject(
    "tableConfig" -> JObject(
      "aggregation" -> JString(aggregationConfig), "filter" -> JString(filterConfig),
      "transform" -> JString(transformConfig), "index" -> JString(indexConfig)),
    "schema" -> JObject(
      "rowKeys" -> JArray(schema.rowKeys.map(fieldToJson).toList),
      "sortKeys" -> JArray(schema.sortKeys.map(fieldToJson).toList),
      "values" -> JArray(schema.values.map(fieldToJson).toList),
      "retired" -> (if (schema.retired.isEmpty) JNothing
        else JArray(schema.retired.map(JString(_)).toList))),
    "partitions" -> JArray(tree.partitions.map(partitionToJson).toList),
    "files" -> JArray(refs.map(refToJson).toList),
    "tombstones" ->
      (if (tombstones.isEmpty) JNothing else JArray(tombstones.map(refToJson).toList)),
    "gc" -> JArray(gc.map { e =>
      JObject("filename" -> JString(e.filename), "sinceMs" -> JInt(e.sinceMs),
        "homeId" -> e.homeId.map(JString(_)).getOrElse(JNothing)) }.toList),
    "txns" -> JObject(txns.toList.sortBy(_._1).map { case (app, v) => app -> JInt(v) }))

  private final case class Snapshot(schema: GraftSchema, tree: PartitionTree,
      refs: Vector[FileReference], gc: Vector[GCEntry], txns: Map[String, Long],
      tombstones: Vector[FileReference])

  private def fromJson(j: JValue): Snapshot = {
    val m = j.asInstanceOf[JObject].obj.toMap
    val sm = m("schema").asInstanceOf[JObject].obj.toMap
    def fields(k: String): Seq[GraftField] =
      sm(k).asInstanceOf[JArray].arr.map(fieldFromJson)
    val retired = sm.get("retired").collect {
      case JArray(xs) => xs.collect { case JString(r) => r }
    }.getOrElse(Nil)
    val schema = GraftSchema(fields("rowKeys"), fields("sortKeys"), fields("values"), retired)
    val JArray(ps) = m("partitions"): @unchecked
    val tree = PartitionTree(schema, ps.map(partitionFromJson))
    val JArray(fs) = m("files"): @unchecked
    val JArray(gs) = m("gc"): @unchecked
    val gc = gs.map { g =>
      val gm = g.asInstanceOf[JObject].obj.toMap
      val JString(f) = gm("filename"): @unchecked
      val JInt(t) = gm("sinceMs"): @unchecked
      GCEntry(f, t.toLong, gm.get("homeId").collect { case JString(s) => s })
    }
    // "txns" absent in pre-round-4 snapshots (migration)
    val txns = m.get("txns").collect {
      case JObject(fields) => fields.collect { case (app, JInt(v)) => app -> v.toLong }.toMap
    }.getOrElse(Map.empty[String, Long])
    // "tombstones" absent before round-12 deletes existed (migration)
    val tombstones = m.get("tombstones").collect {
      case JArray(ts) => ts.map(refFromJson).toVector
    }.getOrElse(Vector.empty)
    Snapshot(schema, tree, fs.map(refFromJson).toVector, gc.toVector, txns, tombstones)
  }
}
