package graft.jobs

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dsl.ConfigDsl
import graft.functions.QuantileSketchAgg.sketch_agg
import graft.meta.{FileReference, GraftFS, SketchSidecar}
import graft.table.GraftTable

/** One compaction work item: merge these files of this partition into one
  * sorted file (reference: compaction job model, docs/design.md:274-329).
  */
final case class CompactionJob(partitionId: String, files: Seq[FileReference])

/** Picks which files to compact (reference: compaction-core strategy/impl).
  */
trait CompactionStrategy {
  def plan(partitionFiles: Map[String, Seq[FileReference]]): Seq[CompactionJob]
}

/** Batches of at most N files per partition, oldest first
  * (reference: BasicCompactionStrategy.java, batch size default 11).
  */
final case class BasicCompactionStrategy(batchSize: Int = 11) extends CompactionStrategy {
  def plan(partitionFiles: Map[String, Seq[FileReference]]): Seq[CompactionJob] =
    partitionFiles.toSeq.sortBy(_._1).flatMap { case (pid, refs) =>
      // seq order (oldest generation first): batches are then
      // seq-contiguous, which order-sensitive (`last`) tables require
      refs.filter(_.jobId.isEmpty).sortBy(r => (r.seq, r.filename))
        .grouped(batchSize)
        .filter(_.size > 1)
        .map(g => CompactionJob(pid, g))
    }
}

/** Accumulo-style size-ratio strategy: compact a set of files if the sum
  * of the smaller files is at least `ratio` x the largest of the set
  * (reference: SizeRatioCompactionStrategy.java, SizeRatioLeafStrategy.java).
  */
final case class SizeRatioCompactionStrategy(ratio: Int = 3, maxBatch: Int = 11)
    extends CompactionStrategy {
  def plan(partitionFiles: Map[String, Seq[FileReference]]): Seq[CompactionJob] =
    partitionFiles.toSeq.sortBy(_._1).flatMap { case (pid, refs) =>
      val sorted = refs.filter(_.jobId.isEmpty).sortBy(_.rowCount)
      // walk from smallest: find the longest prefix satisfying the ratio rule
      var best: Option[Seq[FileReference]] = None
      for (end <- 2 to math.min(sorted.size, maxBatch)) {
        val set = sorted.take(end)
        if (set.init.map(_.rowCount).sum >= ratio.toLong * set.last.rowCount)
          best = Some(set)
      }
      best.map(CompactionJob(pid, _)).toSeq
    }
}

/** Compaction runner. Two paths:
  *  - `runStrategy`: per-partition jobs as the reference schedules them
  *    (merge N sorted files -> 1, applying the table's persistent
  *    filter/aggregation — continual materialized aggregation, T3);
  *  - `compactAll`: the Spark-first whole-table path — ONE distributed
  *    job that re-partitions every live row to its leaf and rewrites one
  *    sorted file per leaf (same shuffle shape as bulk import). On a
  *    cluster this replaces thousands of queued single-node jobs.
  */
final class Compaction(table: GraftTable,
    tracker: CompactionJobTracker = CompactionJobTracker.Noop) {

  private def spark = table.spark
  private def schema = table.schema

  private def track(jobId: String, partitionId: String, inputFiles: Int,
      state: CompactionJobState, rows: Option[Long] = None,
      err: Option[String] = None): Unit =
    tracker.put(TrackedCompactionJob(jobId, partitionId, inputFiles, state,
      System.currentTimeMillis(), rows, err))

  private def aggSpecs = ConfigDsl.parseAggregation(table.config.aggregationConfig, schema)
  private def filterSpec = ConfigDsl.parseFilter(table.config.filterConfig, schema)

  /** Output-file prefix encoding WHICH aggregation/transform config
    * produced the rewrite, so the convergence skip in compactAll never
    * mistakes a file compacted under an OLD config for current — a table
    * reloaded with an overridden config (GraftTable.load) re-compacts
    * everything once and then converges under the new tag.
    */
  private def configTag: String = {
    val crc = new java.util.zip.CRC32()
    crc.update(s"${table.config.aggregationConfig}\n${table.config.transformConfig}"
      .getBytes("UTF-8"))
    f"${crc.getValue}%08x"
  }

  private def compactPrefix(jobId: String): String = s"compact-$configTag-$jobId"

  /** Table-level custom transform (X1) runs at compaction exactly as at
    * query time — the transform contract requires it to preserve
    * (row key, sort key) order, so the merged stream's sortedness
    * survives and the write stays sort-free (reference: table iterator
    * applied in JavaCompactionRunner.getMergingIterator:150-165).
    */
  private def withTableTransform(df: DataFrame): DataFrame =
    graft.transforms.TransformFactory.parse(table.config.transformConfig, schema,
        table.config.userJarsDir)
      .map(_(df)).getOrElse(df)

  /** Plan jobs with the strategy and run them `parallelism` at a time —
    * each job is a one-task Spark job (the reference's one-node-per-job
    * model), so concurrent submission is what fills a cluster's task
    * slots; sequential submission would idle all but one. Jobs touch
    * disjoint file sets (each file is assigned to at most one job), and
    * the state store serializes commits via its CAS retry, so
    * concurrency is safe by construction.
    */
  def runStrategy(strategy: CompactionStrategy, parallelism: Int = 4,
      batchCommits: Boolean = false): Int = {
    table.store.assertWritable()
    val live = table.store.fileReferences
    val jobs = strategy.plan(live.groupBy(_.partitionId))
    // Batched commits (the reference's async committer model): all the
    // concurrent jobs' AssignJob/ReplaceFiles commits funnel through one
    // drain thread that folds them into composite log versions — the
    // CAS round-trip (the bottleneck at high job rates against an
    // object-store log) is paid per BATCH, not per job.
    val committer =
      if (!batchCommits || jobs.size <= 1 || parallelism <= 1) None
      else table.store match {
        case s: graft.meta.InMemoryStateStore => Some(new graft.meta.CommitterQueue(s))
        case _ => None
      }
    try {
      if (jobs.size <= 1 || parallelism <= 1) jobs.foreach(j => run(j, None))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, jobs.size))
        try {
          val futures = jobs.map(j => pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { run(j, committer); () }
          }))
          // Await EVERY job — jobs touch disjoint file sets, so siblings of
          // a failed job complete and commit normally (interrupting them
          // would discard finished merges and strand their temp dirs) —
          // then propagate the first failure with its ORIGINAL type
          // (precondition IllegalArgumentExceptions are part of the API
          // surface).
          val failures = futures.flatMap { f =>
            try { f.get(); None }
            catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
          }
          failures.headOption.foreach(throw _)
        } finally pool.shutdown()
      }
    } finally committer.foreach(_.close())
    jobs.size
  }

  /** The spec for one partition's sorted-run merge: N sorted files →
    * one sorted, filtered, aggregated stream (graft.exec.SortedRun).
    */
  private def specFor(partitionId: String, refs: Seq[FileReference],
      nowMs: Long, tombstones: Seq[FileReference] = Nil): graft.exec.RunSpec = {
    val partition = table.store.partitionTree(partitionId)
    // write-generation order: the merge breaks key ties by reader
    // position, so seq-ascending paths make `last` keep the newest row.
    // (path, seq) dedup by path: a file split across parents yields one
    // physical path under multiple refs sharing one seq.
    val pathsWithSeq = refs.sortBy(r => (r.seq, r.filename))
      .map(r => (table.pathOf(r), r.seq)).distinctBy(_._1)
    val tombsWithSeq = tombstones.map(t => (table.pathOf(t), t.seq)).distinctBy(_._1)
    graft.exec.RunSpec(
      pathsWithSeq.map(_._1),
      schema,
      schema.allFields.map(_.name),
      Some(partition.region),
      table.config.aggregationConfig,
      table.config.filterConfig,
      nowMs,
      // pending deletes purge physically in this merge — but only from
      // input generations <= each tombstone's (LSM semantics); the
      // commit retires EXACTLY this captured set (a tombstone landing
      // after this point applies at read and survives the next round)
      tombstonePaths = tombsWithSeq.map(_._1),
      pathSeqs = pathsWithSeq.map(_._2),
      tombstoneSeqs = tombsWithSeq.map(_._2))
  }

  /** This partition's pending row-key tombstones (captured once per job:
    * the commit retires exactly the set the merge applied).
    */
  private def tombstonesFor(partitionId: String): Seq[FileReference] =
    table.store.tombstones.filter(_.partitionId == partitionId)

  /** Merge one partition's files into a single sorted file and commit.
    * The task is a streaming N-way merge with in-order key-equal
    * aggregation — O(#files) memory, no shuffle, and NO sort stage: the
    * input files are already sorted and the merge preserves it (the
    * reference's sort-free guard, rust compact.rs:171-173). Round-2
    * shape was read → coalesce(1) → sortWithinPartitions — a
    * spill-prone full sort of data that was already sorted.
    */
  def run(job: CompactionJob): FileReference = run(job, None)

  private def run(job: CompactionJob,
      committer: Option[graft.meta.CommitterQueue]): FileReference = {
    // Order-sensitive aggregation (`last`, LWW): a partial job may only
    // merge a seq-CONTIGUOUS run of the leaf's files. Merging {oldest,
    // newest} around a skipped middle generation would stamp the output
    // with the newest seq and make the skipped file's updates lose to
    // the resurrected older values — the classic LSM partial-compaction
    // hazard. BasicCompactionStrategy batches in seq order (contiguous
    // by construction); size-picked sets must pass this gate.
    if (aggSpecs.exists(_.op == "last")) {
      val leafBySeq = table.store.fileReferences
        .filter(_.partitionId == job.partitionId)
        .sortBy(r => (r.seq, r.filename)).map(_.filename)
      val mine = job.files.map(_.filename).toSet
      val positions = leafBySeq.zipWithIndex.collect { case (f, i) if mine(f) => i }
      require(positions.nonEmpty && positions.max - positions.min + 1 == positions.size,
        s"order-sensitive aggregation (last) requires seq-contiguous compaction " +
          s"inputs in ${job.partitionId}; got a gapped selection")
    }
    val jobId = UUID.randomUUID().toString.take(8)
    // CREATED is recorded before file assignment so a job whose
    // assignment loses to a rival still surfaces as CREATED→FAILED in
    // the tracker (the reference tracks created jobs that cannot start).
    track(jobId, job.partitionId, job.files.size, CompactionJobState.Created)
    try {
      // With a batched committer active (runStrategy's batchCommits),
      // assignment and commit ride ONE CAS round-trip per batch of
      // concurrent jobs instead of one per job; individual outcomes
      // (precondition failures) are preserved, so per-job semantics
      // don't change.
      committer match {
        case Some(q) => q.commit(graft.meta.StateTransaction.AssignJob(
          jobId, job.partitionId, job.files.map(_.filename).toVector))
        case None =>
          table.store.assignJob(jobId, job.partitionId, job.files.map(_.filename))
      }
      track(jobId, job.partitionId, job.files.size, CompactionJobState.Started)
      val sketchDir = s"${table.dir}/.sketch-$jobId"
      // Tombstones may only be applied+retired by a job covering the
      // WHOLE leaf: purging them from a subset while sibling files still
      // carry the keys, then retiring, would resurrect those rows.
      // Partial jobs leave them pending (the read side keeps applying).
      val leafFilenames = table.store.fileReferences
        .filter(_.partitionId == job.partitionId).map(_.filename).toSet
      val tombs =
        if (job.files.map(_.filename).toSet == leafFilenames) tombstonesFor(job.partitionId)
        else Nil
      val specs = Seq(specFor(job.partitionId, job.files, System.currentTimeMillis(), tombs))
      // With a custom transform, rows can change between merge and write,
      // so the one-pass merge sketch would describe the wrong row set —
      // fall back to sketching the written file.
      val onePassSketches = table.config.transformConfig.trim.isEmpty
      val rdd =
        if (onePassSketches) new graft.exec.SketchingMergeRDD(spark.sparkContext, specs, sketchDir,
          bloomFields = graft.meta.BloomIndex.bloomFields(table.config.indexConfig),
          bloomExpected = Seq(job.files.map(_.rowCount).sum))
        else new graft.exec.MergeRDD(spark.sparkContext, specs)
      val merged = withTableTransform(org.apache.spark.sql.graft.bridge
        .internalCreateDataFrame(spark, rdd, schema.toStructType))

      // A custom transform may repartition/reorder (its contract only
      // promises key-order preservation WITHIN the result): force the
      // single-sorted-file invariant explicitly on that path.
      val writable =
        if (onePassSketches) merged
        else merged.coalesce(1).sortWithinPartitions(schema.keyNames.map(col): _*)
      val (filename, rowCount) = writeSingleFile(writable, job.partitionId, compactPrefix(jobId))
      val outPath = table.filePath(job.partitionId, filename)
      if (onePassSketches) attachSketches(sketchDir, Seq(0 -> outPath))
      else writeSketches(Seq(outPath))
      // output written but not yet in the state store — the reference's
      // FINISHED-before-COMMITTED distinction
      track(jobId, job.partitionId, job.files.size, CompactionJobState.Finished,
        rows = Some(rowCount))
      // the output represents data up through its newest input generation
      val output = FileReference(filename, job.partitionId, rowCount,
        seq = job.files.map(_.seq).max)
      committer match {
        case Some(q) => q.commit(graft.meta.StateTransaction.ReplaceFiles(
          job.partitionId, job.files.map(_.filename).toVector, Some(output),
          System.currentTimeMillis(), tombs.map(_.filename).toVector))
        case None => table.store.replaceFiles(job.partitionId,
          job.files.map(_.filename), output, consumedTombstones = tombs.map(_.filename))
      }
      track(jobId, job.partitionId, job.files.size, CompactionJobState.Committed,
        rows = Some(rowCount))
      output
    } catch {
      case e: Throwable =>
        track(jobId, job.partitionId, job.files.size, CompactionJobState.Failed,
          err = Some(String.valueOf(e.getMessage)))
        throw e
    }
  }

  /** Whole-table compaction as ONE distributed job: one merge task per
    * leaf needing work (no shuffle at all — the data is already
    * partitioned on disk by leaf; round 2 shuffled every row through a
    * repartition). Each task streams its leaf's files (clipped to the
    * leaf region, so post-split shared files localize) straight to the
    * parquet writer.
    */
  def compactAll(): Unit = {
    table.store.assertWritable()
    val live = table.store.fileReferences
    if (live.isEmpty) return
    val byLeaf = live.groupBy(_.partitionId)
    // Skip leaves already fully compacted (single leaf-local file, no
    // pending work) unless a filter/aggregation must apply persistently.
    // A file referenced by more than one partition (post-split) always
    // needs rewriting to localize it.
    val sharedFiles = live.groupBy(_.filename).collect {
      case (f, rs) if rs.size > 1 => f
    }.toSet
    // Aggregation/transform rewrites are persistent and idempotent: a
    // single leaf-local file already compacted under the CURRENT config
    // (the filename carries the config tag) is CONVERGED and skipped —
    // repeated compactAll is then a no-op. Ingest-written files and
    // files compacted under a different (overridden) config still need
    // the rewrite. ageOff filters are time-dependent and always force
    // work.
    val convergedPrefix = s"compact-$configTag-"
    val needsRewrite = aggSpecs.nonEmpty || table.config.transformConfig.trim.nonEmpty
    // captured ONCE: commits retire exactly the tombstones their merge
    // applied; tombstones landing after this point wait for the next run
    val tombsByLeaf = table.store.tombstones.groupBy(_.partitionId)
    val needsWork = byLeaf.filter { case (pid, refs) =>
      refs.size > 1 || refs.exists(r => sharedFiles(r.filename)) ||
        filterSpec.nonEmpty || tombsByLeaf.contains(pid) ||
        (needsRewrite && refs.exists(r => !r.filename.startsWith(convergedPrefix)))
    }
    // a tombstoned leaf with NO live data files has nothing to purge —
    // retire its tombstones with an empty-removal commit
    (tombsByLeaf.keySet -- byLeaf.keySet).toSeq.sorted.foreach { pid =>
      table.store.removeFiles(pid, Nil,
        consumedTombstones = tombsByLeaf(pid).map(_.filename))
    }
    if (needsWork.isEmpty) return

    val jobId = UUID.randomUUID().toString.take(8)
    val nowMs = System.currentTimeMillis()
    val leafIds = needsWork.keys.toSeq.sorted
    val specs = leafIds.map(pid =>
      specFor(pid, needsWork(pid), nowMs, tombsByLeaf.getOrElse(pid, Nil)))
    // one tracked job per leaf, sharing the run id — the whole-table
    // path is one Spark job, so leaves go CREATED→STARTED together and
    // COMMITTED individually as their replace/removal lands
    leafIds.foreach(pid =>
      track(s"$jobId:$pid", pid, needsWork(pid).size, CompactionJobState.Created))
    val committed = scala.collection.mutable.Set.empty[String]
    try {
    leafIds.foreach(pid =>
      track(s"$jobId:$pid", pid, needsWork(pid).size, CompactionJobState.Started))

    val sketchDir = s"${table.dir}/.sketch-$jobId"
    val onePassSketches = table.config.transformConfig.trim.isEmpty
    val rdd =
      if (onePassSketches) new graft.exec.SketchingMergeRDD(spark.sparkContext, specs, sketchDir,
        bloomFields = graft.meta.BloomIndex.bloomFields(table.config.indexConfig),
        bloomExpected = leafIds.map(pid => needsWork(pid).map(_.rowCount).sum))
      else new graft.exec.MergeRDD(spark.sparkContext, specs)
    val merged = withTableTransform(org.apache.spark.sql.graft.bridge
      .internalCreateDataFrame(spark, rdd, schema.toStructType))

    val tmpDir = s"${table.dir}/.compact-$jobId"
    val written: Seq[(Int, String, String)] =
      if (onePassSketches) {
        // One file per task; part numbering (part-NNNNN) = task index =
        // the leaf at that index (valid: no transform ran, partition
        // layout untouched).
        ParquetLayout.configure(merged.write, schema).parquet(tmpDir)
        moveFromFlatDir(tmpDir, leafIds, compactPrefix(jobId))
      } else {
        // A transform may move rows between tasks; re-derive each row's
        // leaf from its keys and write partitionBy. Order inside a task
        // is no longer guaranteed after partitionBy's internal sort, so
        // sort explicitly.
        val tree = table.store.partitionTree
        val resorted = merged.withColumn("__gpart", tree.leafIdColumn)
          .repartition(leafIds.size, col("__gpart"))
          .sortWithinPartitions((Seq("__gpart") ++ schema.keyNames).map(col): _*)
        ParquetLayout.configure(resorted.write, schema).partitionBy("__gpart").parquet(tmpDir)
        moveFromPartitionedDir(tmpDir, compactPrefix(jobId)).map { case (pid, path) =>
          (-1, pid, path)
        }
      }
    if (onePassSketches) attachSketches(sketchDir, written.map { case (idx, _, path) => idx -> path })
    else writeSketches(written.map(_._3))
    // Commit the leaves' replacements BATCHED: each chunk of 64 rides
    // ONE composite log version (commitValidated) instead of one CAS
    // round-trip per leaf — on a 1000-leaf whole-table compaction the
    // driver-side commit loop otherwise becomes the tail of the job.
    // Per-leaf semantics are unchanged: outcomes are individual, and a
    // failing leaf throws its own precondition error.
    val commitNowMs = System.currentTimeMillis()
    val replacements: Seq[(String, Long, graft.meta.StateTransaction)] =
      written.map { case (_, pid, path) =>
        require(needsWork.contains(pid),
          s"transform produced rows in untouched leaf $pid — transforms must not rewrite key columns")
        val filename = new Path(path).getName
        val rowCount = footerRowCount(path)
        (pid, rowCount, graft.meta.StateTransaction.ReplaceFiles(
          pid, needsWork(pid).map(_.filename).toVector,
          Some(FileReference(filename, pid, rowCount, seq = needsWork(pid).map(_.seq).max)),
          commitNowMs,
          tombsByLeaf.getOrElse(pid, Nil).map(_.filename).toVector))
      }
    val batchingStore = table.store.asInstanceOf[graft.meta.InMemoryStateStore]
    replacements.grouped(64).foreach { chunk =>
      val outcomes = batchingStore.commitValidated(chunk.map(_._3))
      chunk.lazyZip(outcomes).foreach { case ((pid, rowCount, _), outcome) =>
        outcome match {
          case graft.meta.CommitOutcome.Failed(e) => throw e
          case _ =>
            track(s"$jobId:$pid", pid, needsWork(pid).size, CompactionJobState.Committed,
              rows = Some(rowCount))
            committed += pid
        }
      }
    }
    // A leaf whose rows were ALL dropped (filter/transform) produces no
    // output file on the partitionBy path — commit a pure removal so its
    // inputs don't stay live and get re-merged by every later compaction.
    val produced = written.map(_._2).toSet
    (needsWork.keySet -- produced).toSeq.sorted.foreach { pid =>
      table.store.removeFiles(pid, needsWork(pid).map(_.filename),
        consumedTombstones = tombsByLeaf.getOrElse(pid, Nil).map(_.filename))
      track(s"$jobId:$pid", pid, needsWork(pid).size, CompactionJobState.Committed,
        rows = Some(0L))
      committed += pid
    }
    } catch {
      case e: Throwable =>
        (leafIds.toSet -- committed).toSeq.sorted.foreach(pid =>
          track(s"$jobId:$pid", pid, needsWork(pid).size, CompactionJobState.Failed,
            err = Some(String.valueOf(e.getMessage))))
        throw e
    }
  }

  /** Move `__gpart=<pid>` subdirectory outputs into their leaf dirs. */
  private def moveFromPartitionedDir(tmpDir: String, prefix: String): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val (fs, _) = GraftFS.resolve(tmpDir)
    GraftFS.list(tmpDir).filter(_.isDirectory).foreach { partDir =>
      val pid = partDir.getPath.getName.stripPrefix("__gpart=")
      val destDir = new Path(s"${table.dataDir}/$pid")
      fs.mkdirs(destDir)
      fs.listStatus(partDir.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          val name = s"$prefix-${UUID.randomUUID().toString.take(8)}.parquet"
          GraftFS.rename(f.getPath, new Path(destDir, name), fs)
          out += pid -> s"${table.dataDir}/$pid/$name"
        }
    }
    GraftFS.deleteRecursive(tmpDir)
    out.toSeq
  }

  /** Attach the sketches the merge tasks built (one pass, reference
    * JavaCompactionRunner:93-103) as each output file's sidecar, then
    * drop the side-channel dir.
    */
  private def attachSketches(sketchDir: String, files: Seq[(Int, String)]): Unit = {
    val keyNames = schema.rowKeyNames
    files.foreach { case (idx, path) =>
      val sketches = keyNames.zipWithIndex.map { case (k, f) =>
        k -> GraftFS.readBytes(s"$sketchDir/$idx-$f.sketch")
      }
      // the merge task's one-pass integral sums (absent for pre-sums
      // side-channels; overflowed fields are skipped)
      val sumsPath = s"$sketchDir/$idx-sums.bin"
      val sums =
        if (!GraftFS.exists(sumsPath)) Nil
        else {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(GraftFS.readBytes(sumsPath)))
          val n = in.readInt()
          (0 until n).flatMap { _ =>
            val name = in.readUTF()
            val ok = in.readBoolean()
            val cnt = in.readLong()
            val sum = in.readLong()
            val mn = in.readLong()
            val mx = in.readLong()
            if (ok) Seq(SketchSidecar.sumEntryName(name) ->
              SketchSidecar.encodeSum(SketchSidecar.ColumnStats(cnt, sum, mn, mx)))
            else Nil
          }
        }
      // string min/max side-channel (string data-skipping metadata)
      val strsPath = s"$sketchDir/$idx-strs.bin"
      val strs =
        if (!GraftFS.exists(strsPath)) Nil
        else {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(GraftFS.readBytes(strsPath)))
          val n = in.readInt()
          (0 until n).map { _ =>
            val name = in.readUTF()
            val cnt = in.readLong()
            val mn = new Array[Byte](in.readInt()); in.readFully(mn)
            val mx = new Array[Byte](in.readInt()); in.readFully(mx)
            SketchSidecar.strEntryName(name) ->
              SketchSidecar.encodeStr(SketchSidecar.StringStats(cnt,
                new String(mn, java.nio.charset.StandardCharsets.UTF_8),
                new String(mx, java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      // Bloom value-index side-channel (equality data skipping)
      val bloomPath = s"$sketchDir/$idx-bloom.bin"
      val blooms =
        if (!GraftFS.exists(bloomPath)) Nil
        else {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(GraftFS.readBytes(bloomPath)))
          val n = in.readInt()
          (0 until n).map { _ =>
            val name = in.readUTF()
            val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
            SketchSidecar.bloomEntryName(name) -> bytes
          }
        }
      SketchSidecar.write(path,
        sketches ++ sums ++ strs ++ blooms :+ SketchSidecar.rowGroupsEntry(path))
    }
    GraftFS.deleteRecursive(sketchDir)
  }

  // -- shared IO helpers --

  private def writeSingleFile(df: DataFrame, partitionId: String, prefix: String)
      : (String, Long) = {
    val tmpDir = s"${table.dir}/.$prefix-tmp"
    ParquetLayout.configure(df.write.mode("overwrite"), schema).parquet(tmpDir)
    val (fs, _) = GraftFS.resolve(tmpDir)
    val part = GraftFS.list(tmpDir)
      .find(_.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet written in $tmpDir"))
    val destDir = new Path(s"${table.dataDir}/$partitionId")
    fs.mkdirs(destDir)
    val filename = s"$prefix-${UUID.randomUUID().toString.take(8)}.parquet"
    val dest = s"${table.dataDir}/$partitionId/$filename"
    GraftFS.rename(part.getPath, new Path(destDir, filename), fs)
    GraftFS.deleteRecursive(tmpDir)
    (filename, footerRowCount(dest))
  }

  /** Map `part-NNNNN-*` outputs of a flat write back to the leaf whose
    * merge task produced them (task index == partition index), and move
    * each into its leaf directory. A task whose rows were ALL filtered
    * away may write no file (Spark only commits a zero-row file for
    * partition index 0) — such leaves get no entry here and are handled
    * by compactAll's pure-removal fallback, same as on the partitionBy
    * path.
    */
  private def moveFromFlatDir(tmpDir: String, leafIds: Seq[String],
      prefix: String): Seq[(Int, String, String)] = {
    val partNum = "part-(\\d+).*\\.parquet".r
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    val (fs, _) = GraftFS.resolve(tmpDir)
    GraftFS.list(tmpDir)
      .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val idx = f.getPath.getName match {
          case partNum(n) => n.toInt
          case other => throw new IllegalStateException(s"unexpected output file $other")
        }
        val pid = leafIds(idx)
        val destDir = new Path(s"${table.dataDir}/$pid")
        fs.mkdirs(destDir)
        val name = s"$prefix-${UUID.randomUUID().toString.take(8)}.parquet"
        GraftFS.rename(f.getPath, new Path(destDir, name), fs)
        out += ((idx, pid, s"${table.dataDir}/$pid/$name"))
      }
    GraftFS.deleteRecursive(tmpDir)
    out.toSeq
  }

  private def writeSketches(paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    val keyNames = schema.rowKeyNames
    val sumFields = Ingest.integralFieldNames(schema)
    val strFields = Ingest.stringFieldNames(schema)
    val aggs =
      (keyNames.map(k => sketch_agg(col(k)).as(k)) ++
        sumFields.flatMap(v => Seq(
          expr(s"try_sum(`$v`)").cast("long").as(s"__s_$v"),
          count(col(v)).as(s"__c_$v"),
          min(col(v)).cast("long").as(s"__mn_$v"),
          max(col(v)).cast("long").as(s"__mx_$v"))) ++
        strFields.flatMap(v => Seq(
          count(col(v)).as(s"__tc_$v"),
          min(col(v)).as(s"__tmn_$v"),
          max(col(v)).as(s"__tmx_$v")))).toList
    val rows = spark.read.parquet(paths: _*)
      .select((col("*") +: Seq(input_file_name().as("__file"))): _*)
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.foreach { r =>
      // input_file_name is a fully-qualified URI; the sidecar resolves it
      // through the same FileSystem machinery as any table path
      val file = r.getString(r.fieldIndex("__file"))
      val sums = sumFields.flatMap { v =>
        val cnt = r.getLong(r.fieldIndex(s"__c_$v"))
        val sIdx = r.fieldIndex(s"__s_$v")
        if (cnt > 0 && r.isNullAt(sIdx)) Nil // overflow: no entry
        else Seq(SketchSidecar.sumEntryName(v) ->
          SketchSidecar.encodeSum(SketchSidecar.ColumnStats(cnt,
            if (r.isNullAt(sIdx)) 0L else r.getLong(sIdx),
            if (cnt == 0) 0L else r.getLong(r.fieldIndex(s"__mn_$v")),
            if (cnt == 0) 0L else r.getLong(r.fieldIndex(s"__mx_$v")))))
      }
      val strs = strFields.map { v =>
        val cnt = r.getLong(r.fieldIndex(s"__tc_$v"))
        SketchSidecar.strEntryName(v) ->
          SketchSidecar.encodeStr(SketchSidecar.StringStats(cnt,
            if (cnt == 0) "" else r.getString(r.fieldIndex(s"__tmn_$v")),
            if (cnt == 0) "" else r.getString(r.fieldIndex(s"__tmx_$v"))))
      }
      SketchSidecar.write(file,
        keyNames.map(k => k -> r.getAs[Array[Byte]](k)) ++ sums ++ strs
          :+ SketchSidecar.rowGroupsEntry(file))
    }
  }

  private def footerRowCount(path: String): Long =
    graft.exec.ParquetOpen.rowCount(new Path(path), spark.sparkContext.hadoopConfiguration)
}
