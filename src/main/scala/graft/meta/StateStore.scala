package graft.meta

import graft.core.{GraftSchema, PartitionTree, Partition, Region, KeyRange}

/** A file reference: the subset of a data file's rows that belongs to one
  * partition. One physical file may be referenced by several partitions
  * after a partition split (reference:
  * java/core/.../statestore/FileReference.java, docs/design.md:137-151).
  *
  * `homeId` is the partition directory the file was physically written
  * under; references re-scoped to child partitions by a split keep the
  * original home, so path resolution is O(1) — no directory scanning.
  */
final case class FileReference(
    filename: String,
    partitionId: String,
    rowCount: Long,
    jobId: Option[String] = None,
    homeId: Option[String] = None,
    /** False for files whose rows merely REARRANGE existing data
      * (compaction outputs): the table-changes stream skips them, so a
      * subscriber sees each ingested row exactly once — Delta's
      * dataChange flag, the same contract.
      */
    dataChange: Boolean = true,
    /** Write-generation sequence: stamped monotonically per AddFiles
      * commit (StateTransaction.AddFiles.applyTo), so files of one leaf
      * are totally ordered by ingest recency; a compaction output
      * carries max(inputs) — it represents data up through that
      * generation. Drives last-write-wins resolution (the `last`
      * aggregation op): readers order a leaf's sorted runs by seq so the
      * newest generation's row wins deterministically. 0 = legacy refs
      * from before the field existed (ordering among them is arbitrary,
      * which only matters on order-sensitive tables — all created after).
      */
    seq: Long = 0L) {
  /** Physical partition directory holding the file. */
  def physicalPartitionId: String = homeId.getOrElse(partitionId)
}

/** A garbage-collection queue entry: an unreferenced file, when it became
  * unreferenced, and the partition directory it physically lives under
  * (so deletion is O(1) path resolution, no directory scan). `homeId` is
  * None only for entries persisted before it existed (migration).
  */
final case class GCEntry(filename: String, sinceMs: Long, homeId: Option[String] = None)

/** The table's metadata log: partition tree + file references + GC queue.
  * This is the reference's transaction-log state store distilled to the
  * operations the dataflow needs (reference:
  * java/core/.../statestore/transactionlog/transaction impl *Transaction.java,
  * docs/design/transaction-log-state-store.md). Implementations must make
  * each mutation atomic; the provided JsonStateStore uses an
  * optimistic-concurrency version chain (create-exclusive of the next
  * version file = CAS), so an external CAS store can slot in later.
  */
trait StateStore {
  def schema: GraftSchema
  def partitionTree: PartitionTree
  def fileReferences: Seq[FileReference]

  /** True for historical snapshots (time travel): mutating jobs must
    * check this BEFORE any filesystem side effect — the store-level
    * commit throw alone would come after data files were already
    * written into the live table's directories.
    */
  def readOnly: Boolean = false

  /** Fail fast when a mutating job targets a read-only snapshot. */
  def assertWritable(): Unit =
    if (readOnly) throw new UnsupportedOperationException(
      "table snapshot is read-only (time-travel view)")

  /** Files no longer referenced anywhere, with the epoch-ms they became
    * unreferenced (GC eligibility, reference: GarbageCollector.java).
    */
  def unreferencedFiles: Seq[GCEntry]

  /** AddFilesTransaction — new files from ingest/bulk import. */
  def addFiles(refs: Seq[FileReference]): Unit

  /** Idempotent AddFilesTransaction (Delta-Lake-style `txn` action —
    * one monotonically-increasing version watermark per application id,
    * so the txn state is O(#writers), not O(#batches ever committed):
    * the refs land only if `version` is strictly greater than the last
    * committed version for `appId`; a replay returns false and changes
    * nothing. The watermark lands in the SAME atomic snapshot as the
    * refs, so a crash between data commit and any external progress
    * marker (e.g. a streaming checkpoint) cannot duplicate rows — the
    * replayed batch carries an already-committed version and skips.
    */
  def addFilesIfAbsent(appId: String, version: Long, refs: Seq[FileReference]): Boolean

  /** Last committed idempotent-txn version for an application id. */
  def lastTxnVersion(appId: String): Option[Long]

  /** ReplaceFileReferencesTransaction — compaction commit: atomically
    * remove the input refs in a partition and add the single output ref.
    * Inputs that end up with zero references anywhere move to the GC queue.
    */
  def replaceFiles(partitionId: String, inputs: Seq[String], output: FileReference,
      nowMs: Long = System.currentTimeMillis(),
      consumedTombstones: Seq[String] = Nil): Unit

  /** Pure-removal ReplaceFileReferences variant: a compaction whose
    * filter/transform dropped every row commits by removing its inputs
    * with no replacement file — the leaf legitimately becomes empty.
    * Without this, such a leaf's inputs stay live and every subsequent
    * compaction re-merges them forever.
    */
  def removeFiles(partitionId: String, inputs: Seq[String],
      nowMs: Long = System.currentTimeMillis(),
      consumedTombstones: Seq[String] = Nil): Unit

  /** SplitPartitionTransaction — split a leaf at a point (metadata only;
    * data files untouched).
    */
  def splitPartition(parentId: String, dimension: Int, splitPoint: Any,
      leftId: String, rightId: String): Unit

  /** SplitFileReferences (M4) — push refs sitting on non-leaf partitions
    * down one level per call: each parent ref becomes two child refs with
    * halved row-count estimates (reference: SplitFileReferences.java,
    * docs/design.md:295-299). Returns number of refs split.
    */
  def splitFileReferences(): Int

  /** Assign a compaction job id to refs (reference: compaction job
    * assignment; guards double-compaction).
    */
  def assignJob(jobId: String, partitionId: String, filenames: Seq[String]): Unit

  /** Remove GC'd files from the queue after physical deletion. */
  def removeGCFiles(filenames: Seq[String]): Unit

  /** AddColumnTransaction — append one nullable value column (schema
    * evolution; see [[StateTransaction.AddColumn]]).
    */
  def addColumn(field: graft.core.GraftField): Unit

  /** RenameColumnTransaction — metadata-only rename of a value column;
    * the old name becomes a read-boundary alias (column mapping).
    */
  def renameColumn(from: String, to: String): Unit

  /** DropColumnTransaction — metadata-only drop of a value column; its
    * names retire so they can never be reused against old files.
    */
  def dropColumn(name: String): Unit

  /** Dry-run a transaction sequence against the current state — every
    * precondition fires, nothing commits. Returns the resulting schema
    * (for validating dependent edits in the same statement). The
    * all-or-nothing seam for mixed ALTER TABLE statements.
    */
  def preflight(txns: Seq[StateTransaction]): graft.core.GraftSchema

  /** Commit a validated ALTER TABLE statement's column transactions as
    * ONE atomic log version ([[StateTransaction.Batch]]): either every
    * change's precondition passes against the same state or nothing
    * lands. Closes the preflight→apply race — a concurrent writer
    * landing between a caller's [[preflight]] and this commit fails the
    * whole statement (the batch re-validates inside the commit retry),
    * never leaves it partially applied.
    */
  def alterColumns(colTxns: Seq[StateTransaction]): Unit

  /** Pending row-key tombstones (see [[StateTransaction.AddTombstones]]). */
  def tombstones: Seq[FileReference]

  /** SetPropertiesTransaction — versioned edits to the persisted table
    * config (aggregation/filter/transform/index); mutability rules live
    * in [[StateTransaction.SetProperties]].
    */
  def setProperties(updates: Map[String, String]): Unit

  /** TruncateTransaction — drop every live ref and pending tombstone to
    * the GC queue (SQL TRUNCATE TABLE); O(1) metadata, files collected
    * by GC after the configured delay.
    */
  def truncate(nowMs: Long = System.currentTimeMillis()): Unit

  /** Atomic INSERT OVERWRITE: ONE version that truncates and adds the
    * replacement files — all-or-nothing (a reader sees the old contents
    * or the new, never empty-in-between, never both).
    */
  def overwriteFiles(newRefs: Seq[FileReference],
      nowMs: Long = System.currentTimeMillis()): Unit

  /** RestoreTransaction — roll the data back to a historical version's
    * refs/tombstones (caller verifies the files still exist); see
    * [[StateTransaction.Restore]].
    */
  def restore(refs: Seq[FileReference], tombstones: Seq[FileReference],
      nowMs: Long = System.currentTimeMillis()): Unit

  /** The persisted table configuration at the current version. */
  def tableProps: TableProps

  /** AddTombstonesTransaction — register row-key delete files. */
  def addTombstones(refs: Seq[FileReference]): Unit

  /** MergeTransaction — MERGE INTO: `adds` (new data files) and `tombs`
    * (row-key delete markers) land in one atomic version; the markers
    * stamp one generation below the data, so the merge's puts shadow
    * its own deletes and a reader never sees half a merge.
    */
  def commitMerge(adds: Seq[FileReference], tombs: Seq[FileReference]): Unit

  /** Idempotent MergeTransaction (streaming CDC apply): same watermark
    * contract as [[addFilesIfAbsent]] — the adds, markers, and watermark
    * land in one atomic version; a replay returns false, changes nothing.
    */
  def commitMergeIfAbsent(appId: String, version: Long,
      adds: Seq[FileReference], tombs: Seq[FileReference]): Boolean
}

/** In-memory single-writer implementation; also the base for the
  * JSON-persisted store. Thread-safe via coarse synchronization (the
  * reference serializes through its transaction log the same way).
  *
  * Every mutation is expressed as a [[StateTransaction]]: the mutator
  * builds the transaction, applies it to the current state
  * (preconditions included), and hands BOTH to `commit` — so a durable
  * subclass can persist the O(changes) transaction instead of the
  * O(table) snapshot, and replay it deterministically.
  */
/** Read surface shared by the live durable store and historical
  * snapshots: the table's persistent config and the state version, on
  * top of the [[StateStore]] read API. Query-path consumers (the DSv2
  * scan builder behind both GraftTable.query and SQL, metrics) type
  * against this, so a time-travel snapshot drops in wherever a live
  * store is read.
  */
trait ConfiguredState extends StateStore {
  def aggregationConfig: String
  def filterConfig: String
  def transformConfig: String
  def indexConfig: String
  def currentVersion: Long
}

class InMemoryStateStore(schema0: GraftSchema, initialTree: PartitionTree)
    extends StateStore {

  protected var tree: PartitionTree = initialTree
  protected var tombstoneRefs: Vector[FileReference] = Vector.empty

  /** The CURRENT schema lives in the partition tree, so schema-evolution
    * transactions (AddColumn) version it with everything else.
    */
  override def schema: GraftSchema = synchronized(tree.schema)

  override def tombstones: Seq[FileReference] = synchronized(tombstoneRefs)
  protected var refs: Vector[FileReference] = Vector.empty
  protected var gcQueue: Vector[GCEntry] = Vector.empty
  protected var txns: Map[String, Long] = Map.empty
  protected var props: TableProps = TableProps()

  override def tableProps: TableProps = synchronized(props)

  override def partitionTree: PartitionTree = synchronized(tree)
  override def fileReferences: Seq[FileReference] = synchronized(refs)
  override def unreferencedFiles: Seq[GCEntry] = synchronized(gcQueue)
  override def lastTxnVersion(appId: String): Option[Long] = synchronized(txns.get(appId))

  /** Every idempotent-txn watermark (appId → last committed version) —
    * cloned verbatim by deep clone so a streaming writer resuming
    * against the clone still deduplicates its replayed batches.
    */
  def txnWatermarks: Map[String, Long] = synchronized(txns)

  /** The current state as one immutable value (callers hold the lock). */
  protected final def currentState: TableState =
    TableState(tree, refs, gcQueue, txns, tombstoneRefs, props)

  /** Apply a transaction and commit the result (callers hold the lock). */
  protected final def runTxn(txn: StateTransaction): Unit =
    commit(txn, txn.applyTo(currentState))

  /** Atomically install a candidate state. Mutators build the whole next
    * state as a local and pass it here WITH the transaction that produced
    * it, so a failed persist (lost CAS in a durable subclass) leaves the
    * in-memory fields untouched and the store usable for a retry —
    * memory never diverges from disk.
    */
  protected def commit(txn: StateTransaction, next: TableState): Unit = {
    tree = next.tree; refs = next.refs; gcQueue = next.gc; txns = next.txns
    tombstoneRefs = next.tombstones; props = next.props
  }

  /** Lost-CAS auto-retry, the reference's transaction-log model: a losing
    * writer's store reloads disk truth (JsonStateStore.commit), then the
    * whole mutation — preconditions included — re-runs against the fresh
    * state. Conflicting-by-content transactions (e.g. both compacted the
    * same files) surface as the precondition's IllegalArgumentException,
    * not as a transient conflict.
    */
  protected def withRetry[T](body: => T): T = {
    val attempts = 50
    var i = 1
    while (i < attempts) {
      try return body
      catch {
        case e: ConcurrentStateException =>
          onCasConflict(e, i) // runs OUTSIDE the monitor (body's synchronized has exited)
          i += 1
      }
    }
    body
  }

  /** Between-retries hook; called with the store's monitor RELEASED, so a
    * durable subclass may block here (e.g. waiting out an unreadable rival
    * snapshot) without stalling readers or sibling writers.
    *
    * Backoff is jittered-exponential (capped ~128ms): losing writers
    * whose loss cycle takes similar wall time otherwise retry in
    * LOCKSTEP and can starve each other through the whole budget —
    * randomization breaks the convoy, the cap bounds commit latency.
    */
  protected def onCasConflict(e: ConcurrentStateException, attempt: Int): Unit = {
    val ceiling = 1 << math.min(attempt, 7)
    Thread.sleep(1L + java.util.concurrent.ThreadLocalRandom.current().nextInt(ceiling))
  }

  /** Validate-and-commit N prepared transactions in ONE log version —
    * the seam under [[CommitterQueue]] (the reference's batched async
    * state-store committer). Each transaction validates against the
    * EVOLVING state in submission order: one that fails its
    * preconditions (or whose idempotent-txn watermark is already
    * recorded) is excluded with its individual outcome — exactly the
    * error it would have gotten serially — and the survivors commit as
    * a single [[StateTransaction.Batch]], so one CAS round-trip carries
    * the whole batch. On a lost CAS the store reloads disk truth and
    * the WHOLE validation re-runs against the rival's state (the serial
    * retry semantics, amortized over the batch).
    */
  private[graft] def commitValidated(reqs: Seq[StateTransaction]): Seq[CommitOutcome] =
    withRetry { synchronized {
      assertWritable()
      var st = currentState
      val outcomes = new Array[CommitOutcome](reqs.size)
      val ok = Vector.newBuilder[StateTransaction]
      reqs.zipWithIndex.foreach { case (t, i) =>
        val wm = t match {
          case StateTransaction.AddFiles(_, w) => w
          case StateTransaction.Merge(_, _, w) => w
          case _ => None
        }
        if (wm.exists { case (app, v) => st.txns.get(app).exists(_ >= v) })
          outcomes(i) = CommitOutcome.Duplicate
        else try {
          st = t.applyTo(st); ok += t; outcomes(i) = CommitOutcome.Committed
        } catch {
          case scala.util.control.NonFatal(e) => outcomes(i) = CommitOutcome.Failed(e)
        }
      }
      val batch = ok.result()
      if (batch.size == 1) runTxn(batch.head)
      else if (batch.nonEmpty) runTxn(StateTransaction.Batch(batch))
      outcomes.toSeq
    }}

  override def addFiles(newRefs: Seq[FileReference]): Unit = withRetry { synchronized {
    runTxn(StateTransaction.AddFiles(newRefs.toVector))
  }}

  override def addFilesIfAbsent(appId: String, version: Long,
      newRefs: Seq[FileReference]): Boolean =
    withRetry { synchronized {
      // the watermark check belongs to the MUTATOR, not the transaction:
      // a transaction only reaches the log if it committed, so replay
      // applies it unconditionally
      if (txns.get(appId).exists(_ >= version)) false
      else {
        runTxn(StateTransaction.AddFiles(newRefs.toVector, Some(appId -> version)))
        true
      }
    }}

  override def replaceFiles(partitionId: String, inputs: Seq[String], output: FileReference,
      nowMs: Long, consumedTombstones: Seq[String]): Unit = withRetry { synchronized {
    runTxn(StateTransaction.ReplaceFiles(partitionId, inputs.toVector, Some(output), nowMs,
      consumedTombstones.toVector))
  }}

  override def removeFiles(partitionId: String, inputs: Seq[String], nowMs: Long,
      consumedTombstones: Seq[String]): Unit =
    withRetry { synchronized {
      runTxn(StateTransaction.ReplaceFiles(partitionId, inputs.toVector, None, nowMs,
        consumedTombstones.toVector))
    }}

  override def splitPartition(parentId: String, dimension: Int, splitPoint: Any,
      leftId: String, rightId: String): Unit = withRetry { synchronized {
    runTxn(StateTransaction.SplitPartition(parentId, dimension, splitPoint, leftId, rightId))
  }}

  override def splitFileReferences(): Int = withRetry { synchronized {
    val nonLeaf = refs.count(r => !tree(r.partitionId).isLeaf)
    if (nonLeaf > 0) runTxn(StateTransaction.SplitFileRefs)
    nonLeaf
  }}

  override def assignJob(jobId: String, partitionId: String, filenames: Seq[String]): Unit =
    withRetry { synchronized {
      runTxn(StateTransaction.AssignJob(jobId, partitionId, filenames.toVector))
    }}

  override def removeGCFiles(filenames: Seq[String]): Unit = withRetry { synchronized {
    runTxn(StateTransaction.RemoveGCFiles(filenames.toVector))
  }}

  override def addColumn(field: graft.core.GraftField): Unit = withRetry { synchronized {
    runTxn(StateTransaction.AddColumn(field))
  }}

  override def renameColumn(from: String, to: String): Unit = withRetry { synchronized {
    runTxn(StateTransaction.RenameColumn(from, to))
  }}

  override def dropColumn(name: String): Unit = withRetry { synchronized {
    runTxn(StateTransaction.DropColumn(name))
  }}

  override def alterColumns(colTxns: Seq[StateTransaction]): Unit =
    if (colTxns.nonEmpty) withRetry { synchronized {
      // one composite version, all-or-nothing by Batch.applyTo: a child
      // precondition failure (including one caused by a rival landing
      // between a caller's preflight and this commit) aborts the WHOLE
      // statement — never a partially-applied ALTER TABLE
      if (colTxns.size == 1) runTxn(colTxns.head)
      else runTxn(StateTransaction.Batch(colTxns.toVector))
    }}

  override def preflight(txns: Seq[StateTransaction]): graft.core.GraftSchema =
    synchronized {
      txns.foldLeft(currentState)((s, t) => t.applyTo(s)).tree.schema
    }

  override def addTombstones(refs: Seq[FileReference]): Unit = withRetry { synchronized {
    runTxn(StateTransaction.AddTombstones(refs.toVector))
  }}

  override def setProperties(updates: Map[String, String]): Unit =
    withRetry { synchronized {
      runTxn(StateTransaction.SetProperties(updates))
    }}

  override def truncate(nowMs: Long): Unit = withRetry { synchronized {
    runTxn(StateTransaction.Truncate(nowMs))
  }}

  override def restore(refs: Seq[FileReference], tombstones: Seq[FileReference],
      nowMs: Long): Unit = withRetry { synchronized {
    runTxn(StateTransaction.Restore(refs.toVector, tombstones.toVector, nowMs))
  }}

  override def overwriteFiles(newRefs: Seq[FileReference], nowMs: Long): Unit =
    withRetry { synchronized {
      // one composite version: all-or-nothing by Batch.applyTo (a child
      // precondition failure aborts the whole commit — unlike the
      // committer's per-request validation, which is NOT wanted here)
      if (newRefs.isEmpty) runTxn(StateTransaction.Truncate(nowMs))
      else runTxn(StateTransaction.Batch(Vector(
        StateTransaction.Truncate(nowMs),
        StateTransaction.AddFiles(newRefs.toVector))))
    }}

  override def commitMerge(adds: Seq[FileReference],
      tombs: Seq[FileReference]): Unit = withRetry { synchronized {
    runTxn(StateTransaction.Merge(adds.toVector, tombs.toVector))
  }}

  override def commitMergeIfAbsent(appId: String, version: Long,
      adds: Seq[FileReference], tombs: Seq[FileReference]): Boolean =
    withRetry { synchronized {
      // same mutator-side watermark gate as addFilesIfAbsent
      if (txns.get(appId).exists(_ >= version)) false
      else {
        runTxn(StateTransaction.Merge(adds.toVector, tombs.toVector,
          Some(appId -> version)))
        true
      }
    }}
}
