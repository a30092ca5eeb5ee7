package graft.jobs

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.QuantileSketchAgg.sketch_agg
import graft.meta.{FileReference, GraftFS, SketchSidecar}
import graft.table.GraftTable

/** Bulk ingest: the reference's Spark bulk-import dataflow re-expressed
  * (reference: BulkImportDataframeLocalSortDriver.java:50-66 — tag rows
  * with their leaf partition, repartition by partition, sort within
  * partitions by (partition, row keys, sort keys), write one sorted file
  * per partition, record sketches, commit to the state store).
  *
  * Scale notes: partition tagging is a nested CASE WHEN expression
  * (codegen, no UDF); the only shuffle is the repartition on partition id;
  * the sort is within-partition (no global range exchange); sketches are
  * computed in ONE extra job over just the key columns of the new files
  * (columnar pruned scan), grouped by input_file_name.
  */
final class Ingest(table: GraftTable) {

  private def spark = table.spark

  /** Runs the ingest dataflow and commits the new files. With `txn` =
    * (appId, version), the state-store commit is idempotent
    * (addFilesIfAbsent watermark): a replay of an already-committed
    * version writes nothing and returns Nil — the basis of the streaming
    * sink's exactly-once guarantee.
    */
  def run(input: DataFrame, txn: Option[(String, Long)] = None,
      commit: Boolean = true): Seq[FileReference] = {
    require(commit || txn.isEmpty, "write-only ingest cannot carry a txn watermark")
    table.store.assertWritable() // BEFORE any data file lands in the table dir
    val schema = table.schema
    val tree = table.store.partitionTree
    // cheap pre-check: skip the whole Spark job for a known replay (the
    // authoritative gate is the atomic addFilesIfAbsent below)
    if (txn.exists { case (app, v) => table.store.lastTxnVersion(app).exists(_ >= v) }) return Nil

    // Validate + project to schema order (names must exist; types must match).
    schema.allFields.foreach { f =>
      val in = input.schema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(s"input missing field ${f.name}"))
      // structural equality, ignoring container nullability flags
      require(org.apache.spark.sql.types.DataType.equalsIgnoreNullability(in.dataType, f.dataType),
        s"field ${f.name}: input ${in.dataType.sql} != schema ${f.dataType.sql}")
    }
    val projected = input.select(schema.allFields.map(f => col(f.name)): _*)

    val keyCols = schema.keyNames.map(col)
    val numLeaves = tree.leaves.size
    val totalBytes = (projected.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue))).toLong
    // When the small-batch gate misfires (Catalyst stats can grossly
    // underestimate after filters/joins), the spooled single file is the
    // hard evidence: the per-leaf path below re-reads it as its source —
    // deterministic even when the original plan was not.
    var spooledDir: Option[String] = None
    // Small-batch path: a tiny batch (streaming micro-batches are the
    // common case) on a many-leaf table would otherwise write one
    // near-empty file PER TOUCHED LEAF — at 1000 leaves that is 1000
    // files + sidecars per micro-batch, the classic small-files
    // explosion. Instead write ONE key-sorted file homed at the tree
    // root and register one ref per touched leaf sharing it (the same
    // shared-file mechanics every reader/compactor already handles for
    // post-split files: reads clip to the leaf region — a contiguous
    // slice of a key-sorted file is key-sorted — and the next
    // compaction localizes it). Unknown-size plans (stats default to
    // Long.MaxValue) take the normal path, so the gate can only engage
    // when the batch is KNOWN small — and only on genuinely many-leaf
    // tables (>= 64), where the per-leaf amplification dominates; small
    // trees keep the one-file-per-leaf layout (it IS the steady state
    // compaction converges to, and file-grain skipping prefers it).
    if (totalBytes <= Ingest.SmallBatchBytes && numLeaves >= 64) {
      writeSmallBatch(projected, keyCols) match {
        case Right(refs) =>
          if (refs.isEmpty) return Nil
          if (!commit) return refs
          txn match {
            case None => table.store.addFiles(refs); return refs
            case Some((app, version)) =>
              if (table.store.addFilesIfAbsent(app, version, refs)) return refs
              val home = refs.head.physicalPartitionId
              GraftFS.delete(table.filePath(home, refs.head.filename))
              GraftFS.delete(table.filePath(home, refs.head.filename) + ".sketches")
              return Nil
          }
        case Left(spool) => spooledDir = Some(spool)
      }
    }
    // per-leaf source: the validated input, or the spooled small-batch
    // file when the size gate misfired (its byte length is now exact)
    val source = spooledDir.map(spark.read.schema(projected.schema).parquet(_))
      .getOrElse(projected)
    val tagged = source.withColumn("__gpart", tree.leafIdColumn)
    // One sorted run per leaf caps BOTH parallelism (numLeaves tasks
    // total — a 4-leaf table ingests on 4 of 32 cores) and sort memory
    // (a 100 GB leaf must spill-sort inside one task). The LSM already
    // treats N sorted runs per leaf as its normal state — that is what
    // compaction merges — so big ingests salt each leaf into several
    // sorted files: salt ~ cores/leaves for parallelism, floored by a
    // per-run size target so small ingests keep one file per leaf
    // (correctness-scale plans unchanged) and a many-leaf table at
    // cluster scale salts only when leaves outgrow the sort budget.
    val perLeafBytes = spooledDir match {
      case Some(spool) => // exact: the spooled parquet's on-disk bytes
        GraftFS.list(spool).filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum / math.max(numLeaves, 1)
      case None => (projected.queryExecution.optimizedPlan.stats.sizeInBytes
        / math.max(numLeaves, 1)).min(BigInt(Long.MaxValue)).toLong
    }
    val salt = Ingest.saltFor(perLeafBytes,
      spark.sparkContext.defaultParallelism, numLeaves,
      maxSalt = table.config.compactionBatchSize)
    val saltKey = pmod(xxhash64(schema.rowKeyNames.map(col): _*), lit(salt))
    // 2× partition slack: repartition-by-expression HASHES (leaf, salt)
    // combos into slots, and at slots == combos the birthday collisions
    // idle ~1/e of the cores; doubling the slot count (empty tasks are
    // ~free) cuts expected collisions without changing file granularity.
    val sorted = (if (salt == 1) tagged.repartition(numLeaves, col("__gpart"))
      else tagged.repartition(2 * numLeaves * salt, col("__gpart"), saltKey))
      .sortWithinPartitions(col("__gpart") +: keyCols: _*)

    // Write to a job-scoped temp dir, then move files into their
    // partition directories (idempotent-retry friendly, like the
    // reference's OVERWRITE mode).
    val jobId = UUID.randomUUID().toString.take(8)
    val tmpDir = s"${table.dir}/.ingest-$jobId"
    // On a one-leaf tree the leaf id is a constant. Behind a union (a
    // CDC feed, say) the optimizer can then drop it from the sort while
    // partitionBy still requires an ordering on it; the write re-sorts by
    // the leaf id alone and the key sort is lost. One leaf needs no
    // partitionBy: write its directory directly.
    if (numLeaves == 1)
      ParquetLayout.configure(sorted.drop("__gpart").write, schema)
        .parquet(s"$tmpDir/__gpart=${tree.leaves.head.id}")
    else ParquetLayout.configure(sorted.write, schema).partitionBy("__gpart").parquet(tmpDir)

    val moved = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // (partitionId, path)
    val (fs, _) = GraftFS.resolve(tmpDir)
    GraftFS.list(tmpDir).filter(_.isDirectory).foreach { partDir =>
      val pid = partDir.getPath.getName.stripPrefix("__gpart=")
      val destDir = new Path(s"${table.dataDir}/$pid")
      fs.mkdirs(destDir)
      fs.listStatus(partDir.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          val name = s"ingest-$jobId-${UUID.randomUUID().toString.take(8)}.parquet"
          GraftFS.rename(f.getPath, new Path(destDir, name), fs)
          moved += pid -> s"${table.dataDir}/$pid/$name"
        }
    }
    GraftFS.deleteRecursive(tmpDir)
    spooledDir.foreach(GraftFS.deleteRecursive)

    if (moved.isEmpty) return Nil

    // Row counts from parquet footers — no data pass.
    val refs = moved.map { case (pid, path) =>
      FileReference(new Path(path).getName, pid, footerRowCount(path))
    }.toSeq

    writeSketches(moved.map(_._2).toSeq, refs.map(_.rowCount).max)
    // write-only mode (MERGE INTO): the caller owns the commit, so the
    // data files + tombstones of one merge land in a single version
    if (!commit) return refs
    txn match {
      case None => table.store.addFiles(refs); refs
      case Some((app, version)) =>
        if (table.store.addFilesIfAbsent(app, version, refs)) refs
        else {
          // lost to a concurrent/prior commit of the same txn: the data is
          // already in the table — remove this attempt's orphan files
          moved.foreach { case (_, path) =>
            GraftFS.delete(path)
            GraftFS.delete(path + ".sketches")
          }
          Nil
        }
    }
  }

  /** Small-batch write: ONE key-sorted file homed at the tree ROOT,
    * registered on each touched leaf as a shared reference (homeId) —
    * readers clip it to the leaf region (a contiguous slice of a
    * key-sorted file stays key-sorted) and the next compaction
    * localizes it, exactly like a post-split shared file.
    */
  private def writeSmallBatch(projected: DataFrame,
      keyCols: Seq[org.apache.spark.sql.Column]): Either[String, Seq[FileReference]] = {
    val tree = table.store.partitionTree
    val jobId = UUID.randomUUID().toString.take(8)
    val tmpDir = s"${table.dir}/.ingest-$jobId"
    // ONE Spark action evaluates the source: the write itself. Per-leaf
    // counts are then derived from the WRITTEN file, so a
    // non-deterministic source (rand(), input files changing between
    // jobs) can never leave FileReference rowCounts inconsistent with
    // the file's real contents.
    ParquetLayout.configure(
      projected.coalesce(1).sortWithinPartitions(keyCols: _*).write,
      table.schema).parquet(tmpDir)
    val (fs, _) = GraftFS.resolve(tmpDir)
    val part = GraftFS.list(tmpDir).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
    if (part.isEmpty) { GraftFS.deleteRecursive(tmpDir); return Right(Nil) }
    // Size backstop: the gate trusted Catalyst stats, which can grossly
    // underestimate after filters/joins. The written bytes are ground
    // truth — a batch that proves large is handed back (still spooled)
    // for the salted per-leaf path, rather than landing one oversized
    // shared file every reader then pays to clip.
    if (fs.getFileStatus(part.get).getLen >
        Ingest.SmallBatchFallbackMultiple * Ingest.SmallBatchBytes)
      return Left(tmpDir)
    val counts: Seq[(String, Long)] =
      spark.read.parquet(tmpDir)
        .groupBy(tree.leafIdColumn.as("__gpart")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    if (counts.isEmpty) { GraftFS.deleteRecursive(tmpDir); return Right(Nil) }
    val home = tree.root.id
    val destDir = new Path(s"${table.dataDir}/$home")
    fs.mkdirs(destDir)
    val name = s"ingest-$jobId-${UUID.randomUUID().toString.take(8)}.parquet"
    GraftFS.rename(part.get, new Path(destDir, name), fs)
    GraftFS.deleteRecursive(tmpDir)
    val path = s"${table.dataDir}/$home/$name"
    writeSketches(Seq(path), counts.map(_._2).sum)
    Right(counts.map { case (pid, n) => FileReference(name, pid, n, homeId = Some(home)) })
  }

  /** One pruned-columnar job building every new file's key sketches,
    * plus per-file sums of the integral columns (SUM pushdown metadata;
    * try_sum nulls out on overflow, and an overflowed file simply gets
    * no sum entry — pushdown declines rather than answering wrong).
    */
  private[graft] def writeSketches(paths: Seq[String], maxFileRows: Long = 0L): Unit = {
    val schema = table.schema
    val keyNames = schema.rowKeyNames
    val sumFields = Ingest.integralFieldNames(schema)
    val strFields = Ingest.stringFieldNames(schema)
    // Opt-in per-file Bloom value indexes (equality data skipping);
    // hashed with Spark's codegen'd xxhash64 — the exact family the
    // probe side replays on pushed literals (BloomIndex.hashValue).
    // A filter's byte size is set by `expected` REGARDLESS of actual
    // content, so default-sized specs auto-size to the batch's largest
    // file instead of carrying ~1.2 MB of default-1M bits per file —
    // at many files that sidecar bulk is what the query planner reads.
    val autoExpected = math.max(1024L,
      math.min(maxFileRows, graft.meta.BloomIndex.MaxExpectedItems))
    val bloomSpecs = graft.meta.BloomIndex.parse(table.config.indexConfig)
      .filter(b => schema.allFields.exists(_.name == b.field))
      .map(b => if (b.expectedItems == graft.meta.BloomIndex.DefaultExpectedItems
        && maxFileRows > 0) b.copy(expectedItems = autoExpected) else b)
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
          max(col(v)).as(s"__tmx_$v"))) ++
        bloomSpecs.map(b => graft.functions.BloomExpressions.bloom_agg(
          when(col(b.field).isNotNull, xxhash64(col(b.field))),
          b.expectedItems, graft.meta.BloomIndex.Fpp).as(s"__bl_${b.field}"))).toList
    val rows = spark.read.parquet(paths: _*)
      .select((col("*") +: Seq(input_file_name().as("__file"))): _*)
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.foreach { r =>
      // input_file_name is a fully-qualified URI; SketchSidecar resolves
      // it through the same FileSystem machinery as any table path
      val file = r.getString(r.fieldIndex("__file"))
      val sketches = keyNames.map(k => k -> r.getAs[Array[Byte]](k))
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
      val blooms = bloomSpecs.map { b =>
        SketchSidecar.bloomEntryName(b.field) ->
          r.getAs[Array[Byte]](r.fieldIndex(s"__bl_${b.field}"))
      }
      SketchSidecar.write(file,
        sketches ++ sums ++ strs ++ blooms :+ SketchSidecar.rowGroupsEntry(file))
    }
  }

  private def footerRowCount(path: String): Long =
    graft.exec.ParquetOpen.rowCount(new Path(path), spark.sparkContext.hadoopConfiguration)
}

object Ingest {
  /** Batches whose estimated TOTAL size (Catalyst stats, compressed) is
    * at or below this — on a table of >= 64 leaves — write ONE shared
    * root-homed file instead of one file per touched leaf: the
    * small-files guard for streaming micro-batches on many-leaf tables
    * (1000 leaves × a 100-row batch must not mean 1000 near-empty
    * files + sidecars). Unknown-size plans report Long.MaxValue and
    * never take this path. Overridable via
    * -Dgraft.ingest.smallBatchBytes (0 disables).
    */
  val SmallBatchBytes: Long =
    sys.props.get("graft.ingest.smallBatchBytes").map(_.toLong).getOrElse(4L * 1024 * 1024)

  /** Hard backstop on the small-batch gate: if the spooled single file's
    * ACTUAL bytes exceed this multiple of [[SmallBatchBytes]], the
    * Catalyst size estimate was wrong — the batch re-routes through the
    * salted per-leaf path (reading the spool, so the misestimated plan
    * is never evaluated twice). Read per call so tests can drive the
    * fallback deterministically.
    */
  def SmallBatchFallbackMultiple: Double =
    sys.props.get("graft.ingest.smallBatchFallbackMultiple")
      .map(_.toDouble).getOrElse(4.0)

  /** Leaves whose estimated share of the input is below this stay one
    * sorted run — salting a small ingest would litter the LSM with tiny
    * files that compaction then has to fold for no parallelism gain.
    * The estimate is COMPRESSED scan bytes (Catalyst stats), which
    * understates sort CPU on narrow columnar data by ~10×: 1 MB
    * compressed is already ~10⁵–10⁶ rows of per-task sort+encode work,
    * well worth spreading across cores.
    */
  val MinSaltedLeafBytes: Long = 1L * 1024 * 1024
  /** Sort-budget ceiling per written run (estimated input bytes): leaves
    * larger than this are salted even on a fully-busy cluster, bounding
    * per-task spill-sort volume at 100-TB leaf sizes.
    */
  val MaxRunBytes: Long = 256L * 1024 * 1024

  /** Sorted runs per leaf for an ingest: 1 below the small-leaf floor,
    * else enough to use the cores AND keep each run's sort under the
    * spill budget — CAPPED at `maxSalt` (the table's compaction batch
    * size): one ingest must never leave more runs on a leaf than a
    * single compaction folds, or the merge side pays for the ingest
    * side's parallelism until a second compaction round catches up
    * (the r8→r9 sorted-merge regression). The
    * `graft.ingest.max.salt` system property overrides for experiments
    * (the bench's salt=1 control row).
    */
  /** Fields whose per-file sums ride the sketch sidecar (SUM pushdown
    * metadata): every int/long column, schema order.
    */
  def integralFieldNames(schema: graft.core.GraftSchema): Seq[String] =
    (schema.rowKeys ++ schema.sortKeys ++ schema.values)
      .filter(f => f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
      .map(_.name)

  /** String fields carrying per-file min/max stats entries (the
    * categorical data-skipping metadata — `lang = 'en'`).
    */
  def stringFieldNames(schema: graft.core.GraftSchema): Seq[String] =
    (schema.rowKeys ++ schema.sortKeys ++ schema.values)
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name)

  def saltFor(perLeafBytes: Long, cpus: Int, numLeaves: Int,
      maxSalt: Int = Int.MaxValue): Int = {
    val cap = Option(Integer.getInteger("graft.ingest.max.salt"))
      .map(_.intValue).getOrElse(maxSalt)
    if (perLeafBytes < MinSaltedLeafBytes) 1
    else math.min(math.max(cap, 1), math.max(
      math.ceil(cpus.toDouble / math.max(numLeaves, 1)).toInt,
      math.ceil(perLeafBytes.toDouble / MaxRunBytes).toInt))
  }
}
