package graft.exec

import java.util.PriorityQueue
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{GraftField, GraftSchema, KeyRange, Region}
import graft.dsl.ConfigDsl
import graft.functions.MergeOp

/** One sorted-run merge task: N sorted parquet files of one partition →
  * a single sorted, filtered, (optionally) aggregated row stream. This is
  * the reference's compaction/leaf-query dataflow — streaming N-way merge
  * with O(#files) memory, sort-order-preserving key-equal aggregation —
  * (reference: MergingIterator.java:37-114, AggregationIterator.java:36-64,
  * rust compact.rs:61-139) expressed as an executor-side iterator that
  * both the DSv2 scan and the compaction job run inside a Spark task.
  *
  * Everything in the spec is plain serializable data so the task can ship
  * to any executor.
  */
final case class RunSpec(
    paths: Seq[String],
    schema: GraftSchema,
    /** names of the emitted columns, in emission order (keys need not be included) */
    output: Seq[String],
    /** region clip applied per row (the leaf's own region) */
    clip: Option[Region],
    /** table aggregation config ("" = none) — see ConfigDsl */
    aggregationConfig: String,
    /** table filter config ("" = none) */
    filterConfig: String,
    nowMs: Long,
    /** query regions (ORed) — pushed into the parquet row-group and
      * page filter and applied per row; empty = unconstrained */
    queryRegions: Seq[Region] = Nil,
    /** per-partition row cap (pushed LIMIT / key-order TopN): the stream
      * stops after this many output rows — valid for TopN because the
      * merged stream is already in key order, so its top-n IS its first
      * n rows; Spark still applies the global limit above the scan */
    limit: Option[Int] = None,
    /** DESC TopN: keep the LAST `limit` rows of the merged stream
      * instead of the first — DESC NULLS LAST key order is exactly the
      * reverse of the storage order (ASC NULLS FIRST), so a partition's
      * DESC top-n IS its last n rows; they emit in storage order and
      * Spark's global sort above finishes the job. O(limit) ring-buffer
      * state, rows copied on buffering (readers reuse row objects). */
    limitLast: Boolean = false,
    /** pending row-key tombstone files for this leaf (sorted key-only
      * parquet): rows whose ROW KEY appears in any of them are dropped
      * by a streaming merge-anti-join before filters/aggregation —
      * O(1) memory, both sides already key-sorted. */
    tombstonePaths: Seq[String] = Nil,
    /** write-generation seq per entry of `paths` (parallel; empty = all
      * 0). Drives generation-aware delete suppression and documents the
      * merge's key-tie order (callers pass paths seq-ascending). */
    pathSeqs: Seq[Long] = Nil,
    /** write-generation seq per entry of `tombstonePaths` (parallel;
      * empty = Long.MaxValue, i.e. the tombstone suppresses every
      * generation — the legacy levelless behavior). A tombstone applies
      * only to data files with seq <= its own: LSM delete-marker
      * semantics, so a re-ingest after a delete survives. */
    tombstoneSeqs: Seq[Long] = Nil,
    /** MIXED-direction TopN (`ORDER BY k1 ASC, k2 DESC LIMIT n`): one
      * entry per requested order column over the key prefix, true = ASC.
      * The merged ASC stream is walked group-wise on the leading ASC
      * run; each group keeps a bounded top-`limit` heap under the tail
      * comparator, and the walk STOPS once `limit` rows have
      * accumulated from closed groups (later groups are strictly worse
      * on the ASC prefix) — O(limit) memory, early-exit, a candidate
      * superset Spark's global TopN finishes. Empty = not mixed (the
      * plain first-n / last-n paths apply). */
    mixedDirs: Seq[Boolean] = Nil,
    /** true when the planner knows every file is leaf-homed, i.e. the
      * clip cannot drop any row (it only guards ancestor-homed
      * pre-split files). Lets row-drop-sensitive fast paths (the last-n
      * trailing-row-group prune) engage on fully-compacted leaves. */
    clipNoop: Boolean = false)

object SortedRun {

  private def compareInternal(dt: DataType, a: Any, b: Any): Int =
    SortedRunAccess.compareInternal(dt, a, b)

  private def toInternalBound(dt: DataType, v: Any): Any = (dt, v) match {
    case (StringType, s: String) => UTF8String.fromString(s)
    case (IntegerType, i: Int) => i
    case (IntegerType, l: Long) => l.toInt
    case (LongType, l: Long) => l
    case (LongType, i: Int) => i.toLong
    case (BinaryType, b: Array[Byte]) => b
    case _ => v
  }

  /** The merged, clipped, filtered, aggregated row stream for a spec,
    * paired with a close() that releases every still-open file reader —
    * needed when a consumer stops early (LIMIT / cancelled task) — and
    * the count of rows the data-file readers have decoded so far (before
    * clip, regions, deletes, filter and aggregation).
    * `conf` is the Hadoop configuration resolving the file paths —
    * executor-side callers must pass the driver's (shipped via
    * [[graft.meta.SerializableHadoopConf]]); the default covers
    * driver-side use.
    */
  def open(spec: RunSpec, conf: Configuration = graft.meta.GraftFS.conf)
      : (Iterator[InternalRow], () => Unit, () => Long) = {
    val (it, readers, tombReaders) = build(spec, conf)
    (it, () => (readers ++ tombReaders).foreach(r => try r.close() catch { case _: Exception => () }),
      () => readers.iterator.map(_.rowsDecoded).sum)
  }

  /** The merged, clipped, filtered, aggregated row stream for a spec.
    * Readers self-close when drained; use [[open]] when the consumer may
    * stop early.
    */
  def iterator(spec: RunSpec, conf: Configuration = graft.meta.GraftFS.conf)
      : Iterator[InternalRow] = build(spec, conf)._1

  private def build(spec: RunSpec, conf: Configuration)
      : (Iterator[InternalRow], Seq[RowSource], Seq[RowSource]) = {
    val schema = spec.schema
    val keyFields = schema.keyFields
    val filterSpec = ConfigDsl.parseFilter(spec.filterConfig, schema)
    val aggSpecs = ConfigDsl.parseAggregation(spec.aggregationConfig, schema)

    // Read schema: keys always (merge + clip need them), then the value
    // fields the output or the filter require — in table order.
    val neededValues = schema.values.filter(f =>
      spec.output.contains(f.name) || filterSpec.exists {
        case ConfigDsl.AgeOff(field, _) => field == f.name
      })
    val readFields: Seq[GraftField] = keyFields ++ neededValues
    val readIndex: Map[String, Int] = readFields.map(_.name).zipWithIndex.toMap

    val leafPred = spec.clip.flatMap(parquetFilter(_, readFields))
    val queryPred = queryPredicate(spec.queryRegions, readFields)
    val pushed = (leafPred, queryPred) match {
      case (Some(a), Some(b)) => Some(org.apache.parquet.filter2.predicate.FilterApi.and(a, b))
      case (a, b) => a.orElse(b)
    }
    // Atomic-typed schemas decode through the vectorized reader (the
    // pushed predicate prunes row groups and pages there; the explicit
    // row-level bound tests below carry the exact semantics either way).
    // Nested types (map_sum tables etc.) keep the record-materializing
    // Group reader.
    val vectorizable = readFields.forall(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    })
    // Row-key tombstones (deleteKeys), applied PER SOURCE FILE before
    // the merge: a tombstone suppresses a key only in data files of
    // generations <= its own (file.seq <= tomb.seq) — LSM delete-marker
    // semantics, so a key re-ingested after the delete survives. Legacy
    // specs without seqs degrade to suppress-everywhere (0 <= MaxValue).
    // Tombstone files are small sorted key-only parquet; re-opening one
    // per applicable data file keeps the anti-join a streaming merge
    // (O(1) memory) at the cost of O(#files) re-reads of the key list.
    val pathSeqs: Seq[Long] =
      if (spec.pathSeqs.size == spec.paths.size) spec.pathSeqs
      else spec.paths.map(_ => 0L)
    val tombSeqs: Seq[Long] =
      if (spec.tombstoneSeqs.size == spec.tombstonePaths.size) spec.tombstoneSeqs
      else spec.tombstonePaths.map(_ => Long.MaxValue)
    val rowKeyTypes = schema.rowKeys.map(_.dataType).toArray
    val tombReaders = scala.collection.mutable.ArrayBuffer.empty[RowSource]
    def withTombstones(r: RowSource, fileSeq: Long): RowSource = {
      val applicable = spec.tombstonePaths.zip(tombSeqs)
        .collect { case (p, ts) if fileSeq <= ts => p }
      if (applicable.isEmpty) r
      else {
        val trs = applicable.map(p => new GroupRowIterator(p, schema.rowKeys, None, conf))
        tombReaders ++= trs
        new AntiRowSource(r, trs, mergeSorted(trs, schema.rowKeys), rowKeyTypes)
      }
    }
    // Trailing-row-group prune for last-n scans (DESC TopN / newest-page
    // pagination): when only the LAST n merged rows are wanted and no
    // downstream step can drop rows (no agg/filter/clip/region/
    // tombstones), the rows a run contributes to the final window are a
    // suffix of that run of length <= n — so each file's read may start
    // at the minimal row-group suffix holding >= n rows. The last page
    // of a billion-row leaf then reads ~one row group per file instead
    // of streaming the whole leaf through the ring buffer.
    val lastNStarts: Map[String, Long] = (spec.limit, spec.limitLast) match {
      case (Some(n), true) if spec.mixedDirs.isEmpty && aggSpecs.isEmpty &&
          filterSpec.isEmpty && spec.queryRegions.isEmpty &&
          (spec.clip.isEmpty || spec.clipNoop) && spec.tombstonePaths.isEmpty =>
        spec.paths.map(p => p -> lastRowGroupsStart(p, n.toLong, conf)).toMap
      case _ => Map.empty
    }
    val readers: Seq[RowSource] = spec.paths.zip(pathSeqs).map { case (p, fileSeq) =>
      val range = lastNStarts.get(p).filter(_ > 0L).map(s => (s, Long.MaxValue))
      val base: RowSource =
        if (vectorizable) new VectorizedRowIterator(p, readFields, pushed, conf, range)
        else new GroupRowIterator(p, readFields, pushed, conf, range)
      withTombstones(base, fileSeq)
    }.filter { r =>
      if (r.hasNext) true else { r.close(); false }
    }
    val merged = mergeSorted(readers, keyFields)

    val rowTests = (spec.clip.flatMap(c => regionTest(Seq(c), readFields)) ++
      regionTest(spec.queryRegions, readFields)).toArray
    val clipped =
      if (rowTests.isEmpty) merged else merged.filter(row => rowTests.forall(_(row)))

    val filtered = filterSpec match {
      case Some(ConfigDsl.AgeOff(field, maxAgeMs)) =>
        val i = readIndex(field)
        val cutoff = spec.nowMs - maxAgeMs
        clipped.filter(row => !row.isNullAt(i) && row.getLong(i) > cutoff)
      case None => clipped
    }

    val aggregated =
      if (aggSpecs.isEmpty) filtered
      else new StreamingKeyAggIterator(filtered, readFields, keyFields.size, aggSpecs, schema)

    // Mixed-direction TopN runs BEFORE projection: the key columns it
    // groups/compares on are the leading read fields whether or not the
    // output keeps them.
    val topped = spec.limit match {
      case Some(n) if spec.mixedDirs.nonEmpty =>
        mixedTopN(aggregated, keyFields.map(_.dataType).toArray, spec.mixedDirs, n)
      case _ => aggregated
    }

    // Projection to the requested output columns.
    val outIdx = spec.output.map(readIndex).toArray
    val projected =
      if (outIdx.toSeq == readFields.indices.toSeq) topped
      else topped.map { row =>
        val out = new Array[Any](outIdx.length)
        var i = 0
        while (i < outIdx.length) {
          out(i) = if (row.isNullAt(outIdx(i))) null
            else row.get(outIdx(i), readFields(outIdx(i)).dataType)
          i += 1
        }
        new GenericInternalRow(out)
      }
    val limited = spec.limit.map { n =>
      if (spec.mixedDirs.nonEmpty) projected // mixedTopN already capped
      else if (!spec.limitLast) projected.take(n)
      else {
        // last-n ring buffer: emits in storage (ASC) order
        val buf = new java.util.ArrayDeque[InternalRow](n)
        while (projected.hasNext) {
          if (buf.size == n) { buf.pollFirst(); () }
          buf.addLast(projected.next().copy())
        }
        new Iterator[InternalRow] {
          override def hasNext: Boolean = !buf.isEmpty
          override def next(): InternalRow = buf.pollFirst()
        }
      }
    }.getOrElse(projected)
    (limited, readers, tombReaders.toSeq)
  }

  /** A data reader with its applicable delete markers anti-joined in:
    * delegates the row stream to an [[AntiKeyIterator]] over the (still
    * key-sorted) source, and close() releases the source and every
    * tombstone reader it was given.
    */
  private final class AntiRowSource(
      source: RowSource,
      tombSources: Seq[RowSource],
      tombs: Iterator[InternalRow],
      rowKeyTypes: Array[DataType]) extends RowSource {
    private val it = new AntiKeyIterator(source, tombs, rowKeyTypes)
    override def hasNext: Boolean = it.hasNext
    override def next(): InternalRow = it.next()
    override def close(): Unit = {
      source.close()
      tombSources.foreach(t => try t.close() catch { case _: Exception => () })
    }
    override def rowsDecoded: Long = source.rowsDecoded
  }

  /** Streaming merge-anti-join on the ROW-KEY prefix: `rows` ascending
    * in positions [0, keyTypes.length) (data sort order), `tombs`
    * ascending whole-row (tombstone files are key-only). A row is
    * dropped iff its row key equals a tombstone key; duplicate
    * tombstone keys are harmless (the cursor just lingers).
    */
  private final class AntiKeyIterator(
      rows: Iterator[InternalRow],
      tombs: Iterator[InternalRow],
      keyTypes: Array[DataType]) extends Iterator[InternalRow] {

    private var curTomb: InternalRow = if (tombs.hasNext) tombs.next() else null
    private var pending: InternalRow = null

    private def cmpKey(r: InternalRow, t: InternalRow): Int = {
      var i = 0
      while (i < keyTypes.length) {
        val c = compareInternal(keyTypes(i), r.get(i, keyTypes(i)), t.get(i, keyTypes(i)))
        if (c != 0) return c
        i += 1
      }
      0
    }

    private def advance(): Unit = {
      while (pending == null && rows.hasNext) {
        val r = rows.next()
        var dropped = false
        var decided = false
        while (!decided) {
          if (curTomb == null) decided = true
          else {
            val c = cmpKey(r, curTomb)
            if (c > 0) curTomb = if (tombs.hasNext) tombs.next() else null
            else { dropped = c == 0; decided = true }
          }
        }
        if (!dropped) pending = r
      }
    }

    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): InternalRow = {
      advance()
      val r = pending; pending = null; r
    }
  }

  /** Query regions (ORed) as one parquet row-group predicate. OR
    * semantics: a region with no translatable bounds matches everything,
    * so if ANY region yields no predicate the disjunction must be
    * match-all (None) — otherwise the pushed record filter would be
    * narrower than the query. Shared by the row-merge reader and the
    * DSv2 vectorized fast path.
    */
  private[graft] def queryPredicate(queryRegions: Seq[Region], fields: Seq[GraftField])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val regionPreds = queryRegions.map(parquetFilter(_, fields))
    if (regionPreds.isEmpty || regionPreds.exists(_.isEmpty)) None
    else regionPreds.flatten.reduceOption(org.apache.parquet.filter2.predicate.FilterApi.or)
  }

  /** The clip region as a parquet FilterPredicate, so the reader skips
    * whole row groups (and pages) whose column stats fall outside the
    * region — the reference's point-lookup mechanics
    * (RangeQueryUtils.getFilterPredicateMultidimensionalKey:48-150;
    * ~one page per column touched for a point query,
    * docs/design.md:73-82). The row-level clip below still applies —
    * this is purely an IO eliminator.
    */
  /** Counts footer-read FALLBACKS taken by lastRowGroupsStart (files
    * written before the `__rowgroups` sidecar entry existed). Tests
    * assert this stays flat on new-format tables; at scale the fallback
    * is the O(selected files) round-trip pattern the sidecar eliminates.
    */
  private[graft] val footerFallbackReads = new java.util.concurrent.atomic.AtomicLong()

  /** Byte offset of the first row group in the minimal trailing suffix
    * of `path`'s row groups that holds at least n rows (0 = the whole
    * file is needed). METADATA-ONLY on current-format files: the
    * (startingPos, rowCount) layout is persisted in the sketch sidecar
    * at write time (`SketchSidecar.rowGroupsEntry`) and served from the
    * process-wide sidecar cache — usually already loaded by the
    * planner's stats/bloom skipping, so a last-page query costs ZERO
    * extra round-trips per file. Pre-field files fall back to one
    * footer read (counted in [[footerFallbackReads]]).
    */
  private[exec] def lastRowGroupsStart(path: String, n: Long, conf: Configuration): Long = {
    def fromGroups(blocks: Seq[(Long, Long)]): Long = {
      var need = n
      var i = blocks.size - 1
      var start = 0L
      while (i >= 0 && need > 0) {
        start = blocks(i)._1
        need -= blocks(i)._2
        i -= 1
      }
      if (need > 0) 0L else start
    }
    val sidecar = graft.meta.SketchSidecar.readCachedOpt(path)
      .flatMap(_.get(graft.meta.SketchSidecar.rowGroupsEntryName))
    sidecar match {
      case Some(bytes) =>
        fromGroups(graft.meta.SketchSidecar.decodeRowGroups(bytes))
      case None =>
        footerFallbackReads.incrementAndGet()
        fromGroups(ParquetOpen.rowGroups(new Path(path), conf))
    }
  }

  private def parquetFilter(region: Region,
      fields: Seq[GraftField]): Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val preds = region.ranges.flatMap { r =>
      val c = r.canonical
      val dt = fields.find(_.name == r.field).map(_.dataType)
      dt.toSeq.flatMap {
        case IntegerType =>
          val col = FilterApi.intColumn(r.field)
          def asInt(v: Any) = v match { case i: Int => i; case l: Long => l.toInt }
          c.min.map(v => FilterApi.gtEq(col, Int.box(asInt(v)))) ++
            c.max.map(v => FilterApi.lt(col, Int.box(asInt(v))))
        case LongType =>
          val col = FilterApi.longColumn(r.field)
          def asLong(v: Any) = v match { case l: Long => l; case i: Int => i.toLong }
          c.min.map(v => FilterApi.gtEq(col, Long.box(asLong(v)))) ++
            c.max.map(v => FilterApi.lt(col, Long.box(asLong(v))))
        case StringType =>
          val col = FilterApi.binaryColumn(r.field)
          c.min.map(v => FilterApi.gtEq(col, Binary.fromString(v.asInstanceOf[String]))) ++
            c.max.map(v => FilterApi.lt(col, Binary.fromString(v.asInstanceOf[String])))
        case BinaryType =>
          val col = FilterApi.binaryColumn(r.field)
          c.min.map(v =>
            FilterApi.gtEq(col, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))) ++
            c.max.map(v =>
              FilterApi.lt(col, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]])))
        case _ => Nil
      }
    }
    preds.reduceOption(FilterApi.and)
  }

  /** ORed regions as one row test over rows laid out as `fields`
    * (internal values, canonical bounds): the exact membership that the
    * pushed parquet predicate only narrows to row groups and pages.
    * None when there are no regions, or when a region bounds a field the
    * rows do not carry. Shared by the row merge and the DSv2 columnar
    * reader.
    */
  private[graft] def regionTest(regions: Seq[Region], fields: Seq[GraftField])
      : Option[InternalRow => Boolean] = {
    val index = fields.map(_.name).zipWithIndex.toMap
    if (regions.isEmpty || !regions.forall(_.ranges.forall(r => index.contains(r.field)))) None
    else {
      val tests = regions.map(_.ranges.toArray.flatMap(boundTest(_, fields, index))).toArray
      Some(row => tests.exists(_.forall(_(row))))
    }
  }

  /** Per-range row predicate over internal values (canonical bounds). */
  private def boundTest(range: KeyRange, fields: Seq[GraftField],
      index: Map[String, Int]): Seq[InternalRow => Boolean] = {
    val canonical = range.canonical
    val i = index(range.field)
    val dt = fields(i).dataType
    val lower = canonical.min.map { v =>
      val b = toInternalBound(dt, v)
      (row: InternalRow) => compareInternal(dt, row.get(i, dt), b) >= 0
    }
    val upper = canonical.max.map { v =>
      val b = toInternalBound(dt, v)
      (row: InternalRow) => compareInternal(dt, row.get(i, dt), b) < 0
    }
    lower.toSeq ++ upper.toSeq
  }

  /** PriorityQueue N-way merge of per-file sorted iterators
    * (reference: MergingIterator.java — same (head, iterator) heap).
    *
    * Key ties break by READER POSITION: spec builders order a leaf's
    * files by write-generation sequence (FileReference.seq) ascending,
    * so equal keys emit oldest-generation first and the order-sensitive
    * `last` aggregation deterministically keeps the newest write —
    * last-write-wins. (A bare PriorityQueue's tie order is unspecified;
    * commutative ops never notice, `last` would.)
    */
  private def mergeSorted(readers: Seq[RowSource],
      keyFields: Seq[GraftField]): Iterator[InternalRow] = {
    if (readers.isEmpty) return Iterator.empty
    if (readers.size == 1) return readers.head

    val keyTypes = keyFields.map(_.dataType).toArray
    val cmp = new java.util.Comparator[(InternalRow, RowSource, Int)] {
      override def compare(a: (InternalRow, RowSource, Int),
          b: (InternalRow, RowSource, Int)): Int = {
        var i = 0
        while (i < keyTypes.length) {
          val c = compareInternal(keyTypes(i), a._1.get(i, keyTypes(i)), b._1.get(i, keyTypes(i)))
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a._3, b._3)
      }
    }
    val pq = new PriorityQueue[(InternalRow, RowSource, Int)](readers.size, cmp)
    readers.zipWithIndex.foreach { case (r, i) => if (r.hasNext) pq.add((r.next(), r, i)) }

    new Iterator[InternalRow] {
      override def hasNext: Boolean = !pq.isEmpty
      override def next(): InternalRow = {
        val (row, it, i) = pq.poll()
        if (it.hasNext) pq.add((it.next(), it, i)) else it.close()
        row
      }
    }
  }

  /** Mixed-direction TopN over the merged ASC stream (`ORDER BY k1 ASC,
    * k2 DESC LIMIT n` and friends): rows arrive sorted by the full key
    * ASC; group on the requested order's leading ASC run, keep each
    * group's top-n under the tail comparator in a bounded heap, and STOP
    * once n rows have accumulated from CLOSED groups — every later group
    * is strictly worse on the ASC prefix than all closed ones. O(n)
    * memory, early exit after ~n qualifying rows' worth of groups, a
    * candidate superset (≤ 2n rows, any order) that Spark's global TopN
    * finishes. Requires dirs.head == ASC (caller-gated).
    */
  private def mixedTopN(in: Iterator[InternalRow], keyTypes: Array[DataType],
      dirs: Seq[Boolean], n: Int): Iterator[InternalRow] = {
    val m = dirs.length
    // group prefix = the maximal leading run of SAME-direction columns;
    // storage order walks those groups forward (leading ASC) or in
    // reverse of the requested order (leading DESC)
    val lead = dirs.head
    val prefix = dirs.takeWhile(_ == lead).length
    def cmpTail(a: InternalRow, b: InternalRow): Int = {
      var i = prefix
      while (i < m) {
        val c = compareInternal(keyTypes(i), a.get(i, keyTypes(i)), b.get(i, keyTypes(i)))
        if (c != 0) return if (dirs(i)) c else -c
        i += 1
      }
      0
    }
    new Iterator[InternalRow] {
      private var out: Iterator[InternalRow] = _
      private def build(): Unit = {
        if (out != null) return
        // max-heap by the tail order: the WORST candidate on top
        val heap = new PriorityQueue[InternalRow](math.max(1, math.min(n, 1024)),
          new java.util.Comparator[InternalRow] {
            override def compare(a: InternalRow, b: InternalRow): Int = cmpTail(b, a)
          })
        var group: InternalRow = null
        def sameGroup(r: InternalRow): Boolean = {
          var i = 0
          while (i < prefix) {
            if (compareInternal(keyTypes(i),
                r.get(i, keyTypes(i)), group.get(i, keyTypes(i))) != 0) return false
            i += 1
          }
          true
        }
        def offer(r: InternalRow): Unit =
          if (heap.size < n) heap.add(r.copy())
          else if (cmpTail(r, heap.peek()) < 0) { heap.poll(); heap.add(r.copy()) }
        if (lead) {
          // leading ASC: groups arrive in requested order — emit each
          // closed group's top-n and STOP once n rows are closed
          val res = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          var done = false
          while (!done && in.hasNext) {
            val r = in.next()
            if (group == null || !sameGroup(r)) {
              while (!heap.isEmpty) res += heap.poll()
              if (res.size >= n) done = true else group = r.copy()
            }
            if (!done) offer(r)
          }
          if (!done) while (!heap.isEmpty) res += heap.poll()
          out = res.iterator
        } else {
          // leading DESC: groups arrive in REVERSE of the requested
          // order, so the answer lives in the LAST groups — keep a
          // deque of closed groups' top-n candidates, trimming the
          // oldest while the newer groups alone already cover n.
          // O(n) memory (≤ ~2n rows + the live heap); the whole leaf is
          // walked (no early stop — files only read forward), exactly
          // like the all-DESC last-n ring buffer.
          val deque = new java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[InternalRow]]()
          var total = 0
          def closeGroup(): Unit = {
            if (heap.isEmpty) return
            val g = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (!heap.isEmpty) g += heap.poll()
            deque.addLast(g)
            total += g.size
            while (deque.size > 1 && total - deque.peekFirst().size >= n)
              total -= deque.pollFirst().size
          }
          while (in.hasNext) {
            val r = in.next()
            if (group == null || !sameGroup(r)) { closeGroup(); group = r.copy() }
            offer(r)
          }
          closeGroup()
          // newest group first = the requested leading-DESC group order;
          // Spark's finishing sort above orders within and across leaves
          val res = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          val it = deque.descendingIterator()
          while (it.hasNext) res ++= it.next()
          out = res.iterator
        }
      }
      override def hasNext: Boolean = { build(); out.hasNext }
      override def next(): InternalRow = { build(); out.next() }
    }
  }

  /** Merged, key-ascending iterator over the spec's pending delete
    * markers applicable to a data file of generation `fileSeq` (a marker
    * applies iff fileSeq <= markerSeq), plus a close callback — the
    * columnar fast path's anti-join input (the row path builds its own
    * per-reader [[AntiRowSource]] instead). None when no marker applies.
    */
  private[graft] def tombstoneKeyIterator(spec: RunSpec, fileSeq: Long,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(Iterator[InternalRow], () => Unit)] = {
    val tombSeqs: Seq[Long] =
      if (spec.tombstoneSeqs.size == spec.tombstonePaths.size) spec.tombstoneSeqs
      else spec.tombstonePaths.map(_ => Long.MaxValue)
    val applicable = spec.tombstonePaths.zip(tombSeqs)
      .collect { case (p, ts) if fileSeq <= ts => p }
    if (applicable.isEmpty) None
    else {
      val readers = applicable.map(p =>
        new GroupRowIterator(p, spec.schema.rowKeys, None, conf))
      Some((mergeSorted(readers, spec.schema.rowKeys),
        () => readers.foreach(r => try r.close() catch { case _: Exception => () })))
    }
  }
}

/** Streaming sort-order-preserving key-equal aggregation: merge
  * consecutive rows equal on ALL key fields, applying the configured op
  * per value field — O(1) memory, the reference's AggregationIterator
  * peek/merge loop (AggregatorIteratorImpl.java:31-93).
  */
private[exec] final class StreamingKeyAggIterator(
    input: Iterator[InternalRow],
    readFields: Seq[GraftField],
    numKeys: Int,
    specs: Seq[ConfigDsl.AggSpec],
    schema: GraftSchema)
  extends Iterator[InternalRow] {

  private val keyTypes = readFields.take(numKeys).map(_.dataType).toArray
  // per read-position ≥ numKeys: the agg op (fields absent from specs keep last value)
  private val ops: Array[(String, DataType)] = readFields.drop(numKeys).map { f =>
    val op = specs.find(_.field == f.name).map(_.op).getOrElse("last")
    (op, f.dataType)
  }.toArray

  private var pending: InternalRow = if (input.hasNext) input.next() else null

  override def hasNext: Boolean = pending != null

  override def next(): InternalRow = {
    val keys = new Array[Any](numKeys)
    var i = 0
    while (i < numKeys) {
      keys(i) = if (pending.isNullAt(i)) null else pending.get(i, keyTypes(i))
      i += 1
    }
    // accumulate values as external JVM values (concat-sum fields
    // accumulate ELEMENTS so the emit can sort them — ConcatSortedAgg
    // semantics; stream order across merged files is arbitrary)
    def accValue(row: InternalRow, k: Int): Any = {
      val v = extValue(row, numKeys + k)
      if (v != null && isConcatSum(ops(k)._1, ops(k)._2))
        scala.collection.mutable.ArrayBuffer[Any](v)
      else v
    }
    val acc = new Array[Any](ops.length)
    var j = 0
    while (j < ops.length) {
      acc(j) = accValue(pending, j)
      j += 1
    }
    pending = null
    var done = false
    while (!done && input.hasNext) {
      val row = input.next()
      if (sameKeys(row, keys)) {
        var k = 0
        while (k < ops.length) {
          acc(k) = mergeExternal(ops(k)._1, ops(k)._2, acc(k), accValue(row, k))
          k += 1
        }
      } else { pending = row; done = true }
    }
    val out = new Array[Any](numKeys + ops.length)
    System.arraycopy(keys, 0, out, 0, numKeys)
    var m = 0
    while (m < ops.length) {
      out(numKeys + m) = intValue(ops(m)._1, ops(m)._2, acc(m))
      m += 1
    }
    new GenericInternalRow(out)
  }

  private def sameKeys(row: InternalRow, keys: Array[Any]): Boolean = {
    var i = 0
    while (i < numKeys) {
      val v = if (row.isNullAt(i)) null else row.get(i, keyTypes(i))
      if (SortedRunAccess.compareInternal(keyTypes(i), v, keys(i)) != 0) return false
      i += 1
    }
    true
  }

  private def extValue(row: InternalRow, i: Int): Any = {
    val dt = readFields(i).dataType
    if (row.isNullAt(i)) null
    else dt match {
      case IntegerType => row.getInt(i)
      case LongType => row.getLong(i)
      case StringType => row.getUTF8String(i).toString
      case BinaryType => row.getBinary(i)
      case ArrayType(et, _) =>
        val a = row.getArray(i)
        (0 until a.numElements()).map(k => if (a.isNullAt(k)) null else a.get(k, et)).toVector
      case MapType(kt, vt, _) =>
        val m = row.getMap(i)
        val keys = m.keyArray(); val vals = m.valueArray()
        val out = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
        var k = 0
        while (k < m.numElements()) {
          out.update(extMapKey(keys.get(k, kt)), extScalar(vt, vals.get(k, vt)))
          k += 1
        }
        out
      case other => row.get(i, other)
    }
  }

  private def extScalar(dt: DataType, v: Any): Any = v match {
    case u: UTF8String => u.toString
    case o => o
  }

  private def extMapKey(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case b: Array[Byte] => MergeOp.wrapBytes(b.clone())
    case o => o
  }

  private def isConcatSum(op: String, dt: DataType): Boolean =
    op == "sum" && (dt == StringType || dt == BinaryType)

  private def mergeExternal(op: String, dt: DataType, a: Any, b: Any): Any = {
    // LWW: the newer write wins EVEN WHEN NULL — a nullable `last`
    // column's explicit null overwrites (the value of the newest row,
    // null or not). The null short-circuits below would resurrect the
    // older value instead.
    if (op == "last") return b
    if (a == null) return b
    if (b == null) return a
    (op, dt) match {
      case ("last", _) => b
      // string/binary "sum" = concatenation IN SORTED ORDER
      // (ConcatSortedAgg semantics): accumulate elements, sort at emit —
      // stream-encounter order across merged files is arbitrary.
      case ("sum", StringType | BinaryType) =>
        val buf = a.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
        buf ++= b.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
        buf
      case ("sum", IntegerType) => a.asInstanceOf[Int] + b.asInstanceOf[Int]
      case ("sum", LongType) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
      case ("min", t) => MergeOp(MergeOp.Min, t, a, b)
      case ("max", t) => MergeOp(MergeOp.Max, t, a, b)
      case (mop, MapType(_, vt, _)) if mop.startsWith("map_") =>
        val out = a.asInstanceOf[scala.collection.mutable.LinkedHashMap[Any, Any]]
        val valOp = mop match {
          case "map_sum" => MergeOp.Sum
          case "map_min" => MergeOp.Min
          case "map_max" => MergeOp.Max
        }
        b.asInstanceOf[scala.collection.mutable.LinkedHashMap[Any, Any]].foreach {
          case (k, v) => MergeOp.mergeMapEntry(valOp, vt, out, k, v)
        }
        out
      case (o, t) => throw new IllegalArgumentException(s"unsupported $o on ${t.sql}")
    }
  }

  private def intValue(op: String, dt: DataType, v: Any): Any =
    if (v == null) null
    else (op, dt) match {
      case ("sum", StringType) =>
        val sorted = v.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
          .sortWith((a, b) => graft.core.KeyOrdering.compare(a, b) < 0)
        UTF8String.fromString(sorted.mkString(""))
      case ("sum", BinaryType) =>
        val sorted = v.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
          .sortWith((a, b) => graft.core.KeyOrdering.compare(a, b) < 0)
        sorted.map(_.asInstanceOf[Array[Byte]]).foldLeft(Array.emptyByteArray)(_ ++ _)
      case (_, StringType) => UTF8String.fromString(v.asInstanceOf[String])
      case (_, ArrayType(_, _)) =>
        new GenericArrayData(v.asInstanceOf[Vector[Any]].toArray)
      case (_, MapType(_, _, _)) =>
        MergeOp.toSortedMapData(v.asInstanceOf[scala.collection.mutable.LinkedHashMap[Any, Any]])
      case _ => v
    }
}

/** Internal-value comparison in the engine's key order: ints/longs
  * numeric, strings UTF-8 binary (UTF8String.compareTo), byte arrays
  * unsigned lexicographic — identical to graft.core.KeyOrdering on
  * external values.
  */
private[graft] object SortedRunAccess {
  def compareInternal(dt: DataType, a: Any, b: Any): Int = {
    if (a == null && b == null) return 0
    if (a == null) return -1
    if (b == null) return 1
    dt match {
      case IntegerType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case LongType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      case BinaryType =>
        java.util.Arrays.compareUnsigned(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      case other => throw new IllegalArgumentException(s"not a key type: ${other.sql}")
    }
  }
}

/** Row-by-row parquet reader for one sorted file, projected to the given
  * fields, materializing Catalyst InternalRows directly (RowReadSupport —
  * no intermediate Group tree) for the graft type system (4 primitives +
  * one-level list/map — the reference's exact type surface,
  * StructTypeFactory.java:54-73).
  */
/** Per-file sorted row source feeding the N-way merge. */
private[graft] sealed trait RowSource extends Iterator[InternalRow] with AutoCloseable {
  /** Rows decoded from the file so far. */
  def rowsDecoded: Long
}

/** Spark's vectorized parquet decoder consumed row-wise: batches decode
  * columnar (dictionary/RLE-aware, ~2× the example-Group assembly path),
  * each row is copied out of the live batch so downstream holds (merge
  * heap, key-agg lookback) stay valid across batch reloads. Used for
  * atomic-typed schemas; nested types take [[GroupRowIterator]].
  */
private[graft] final class VectorizedRowIterator(path: String, fields: Seq[GraftField],
    filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    conf: Configuration = graft.meta.GraftFS.conf,
    fileRange: Option[(Long, Long)] = None)
  extends RowSource {

  private val (reader, perm) = org.apache.spark.sql.execution.datasources.parquet
    .GraftVectorizedBridge.open(path,
      org.apache.spark.sql.types.StructType(fields.map(_.toStructField)),
      filter, capacity = 4096, conf, fileRange)
  private var batchRows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var done = false
  private var decoded = 0L

  private def advance(): Unit = {
    while (!done && !batchRows.hasNext) {
      if (reader.nextKeyValue()) {
        val raw = reader.getCurrentValue
          .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
        // restore caller column order when evolved columns were appended
        val b = perm match {
          case None => raw
          case Some(p) => new org.apache.spark.sql.vectorized.ColumnarBatch(
            p.map(i => raw.column(i)), raw.numRows())
        }
        decoded += b.numRows
        batchRows = b.rowIterator()
      } else { done = true; close() }
    }
  }

  override def hasNext: Boolean = { advance(); batchRows.hasNext }

  override def next(): InternalRow = { advance(); batchRows.next().copy() }

  override def close(): Unit = reader.close()

  override def rowsDecoded: Long = decoded
}

private[graft] final class GroupRowIterator(path: String, fields: Seq[GraftField],
    filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    conf: Configuration = graft.meta.GraftFS.conf,
    fileRange: Option[(Long, Long)] = None)
  extends RowSource {

  private val reader: ParquetReader[InternalRow] = {
    // the InputFile builder reads on the file's conf; the Path builder
    // would build (and parse the XML of) a fresh Configuration per open
    val rowSupport = new RowReadSupport(fields)
    val b = new ParquetReader.Builder[InternalRow](
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf)) {
      override protected def getReadSupport(): ReadSupport[InternalRow] = rowSupport
    }
    filter.foreach(f =>
      b.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(f)))
    fileRange.foreach { case (s, e) => b.withFileRange(s, e) }
    b.build()
  }

  private var nextRow: InternalRow = reader.read()
  private var decoded = if (nextRow == null) 0L else 1L

  override def hasNext: Boolean = nextRow != null

  override def next(): InternalRow = {
    val r = nextRow
    nextRow = reader.read()
    if (nextRow == null) close() else decoded += 1
    r
  }

  override def close(): Unit = reader.close()

  override def rowsDecoded: Long = decoded
}

/** One Spark task per sorted-run merge: partition i streams specs(i).
  * The spec rides inside the Partition object, so each task ships only
  * its own file list. No shuffle anywhere — compaction parallelism is
  * "one task per job", the reference's execution model
  * (docs/design.md:274-329), scaled by the cluster's task slots.
  */
final class MergeRDD(
    @transient private val sc: org.apache.spark.SparkContext,
    specs: Seq[RunSpec])
  extends org.apache.spark.rdd.RDD[InternalRow](sc, Nil) {

  // driver conf captured at construction; ships once with the RDD
  private val confW = graft.meta.GraftFS.serializableConf

  override protected def getPartitions: Array[org.apache.spark.Partition] =
    specs.zipWithIndex.map { case (s, i) => MergeTaskPartition(i, s): org.apache.spark.Partition }.toArray

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[InternalRow] = {
    val (it, close, _) = SortedRun.open(split.asInstanceOf[MergeTaskPartition].spec, confW.value)
    context.addTaskCompletionListener[Unit](_ => close())
    it
  }
}

final case class MergeTaskPartition(index: Int, spec: RunSpec)
  extends org.apache.spark.Partition

/** MergeRDD variant that additionally builds the per-file row-key
  * quantile sketches IN the merge pass — the reference's one-pass model
  * (sketch updated while the compaction writer streams rows,
  * JavaCompactionRunner.java:93-103) — instead of a second read of the
  * written file. Each task writes its serialized sketches to
  * `<sketchDir>/<partitionIndex>-<keyFieldIndex>.sketch` as its stream
  * drains; the driver attaches them as the output file's sidecar.
  */
final class SketchingMergeRDD(
    @transient private val sc: org.apache.spark.SparkContext,
    specs: Seq[RunSpec],
    sketchDir: String,
    /** columns to build per-file Bloom value indexes for in the same
      * pass (equality data skipping, see [[graft.meta.BloomIndex]]);
      * `bloomExpected(i)` sizes task i's filters (the driver knows each
      * job's input row count) — absent entries use the default.
      */
    bloomFields: Seq[String] = Nil,
    bloomExpected: Seq[Long] = Nil)
  extends org.apache.spark.rdd.RDD[InternalRow](sc, Nil) {

  // driver conf captured at construction; ships once with the RDD
  private val confW = graft.meta.GraftFS.serializableConf

  override protected def getPartitions: Array[org.apache.spark.Partition] =
    specs.zipWithIndex.map { case (s, i) => MergeTaskPartition(i, s): org.apache.spark.Partition }.toArray

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[InternalRow] = {
    val part = split.asInstanceOf[MergeTaskPartition]
    val spec = part.spec
    val schema = spec.schema
    val keyIdx = schema.rowKeyNames.map(spec.output.indexOf).toArray
    require(keyIdx.forall(_ >= 0), "sketching merge requires row keys in the output")
    val kinds = schema.rowKeys.map(f => graft.functions.KeySketch.kindOf(f.dataType)).toArray
    val types = schema.rowKeys.map(_.dataType).toArray
    val sketches = kinds.map(k => graft.functions.KeySketch.empty(k))
    // per-file integral-column sums accumulate in the SAME pass (SUM
    // pushdown metadata); overflow marks the field invalid — no entry
    // is attached and pushdown declines for the file
    val sumNames = graft.jobs.Ingest.integralFieldNames(schema)
      .filter(spec.output.contains).toArray
    val sumIdx = sumNames.map(spec.output.indexOf)
    val sumTypes = sumNames.map(n => schema.field(n).dataType)
    val sumCnt = new Array[Long](sumNames.length)
    val sumVal = new Array[Long](sumNames.length)
    val sumMin = Array.fill(sumNames.length)(Long.MaxValue)
    val sumMax = Array.fill(sumNames.length)(Long.MinValue)
    val sumOk = Array.fill(sumNames.length)(true)
    // per-file string min/max in the same pass (string data-skipping
    // metadata); UTF8String binary order, clones only on new extremes
    val strNames = graft.jobs.Ingest.stringFieldNames(schema)
      .filter(spec.output.contains).toArray
    val strIdx = strNames.map(spec.output.indexOf)
    val strCnt = new Array[Long](strNames.length)
    val strMin = new Array[org.apache.spark.unsafe.types.UTF8String](strNames.length)
    val strMax = new Array[org.apache.spark.unsafe.types.UTF8String](strNames.length)
    // per-file Bloom value indexes accumulate in the SAME pass; the
    // hash family is exactly Spark's xxhash64 (BloomIndex), matching
    // the ingest build path and the scan-side literal probes
    val blNames = bloomFields.filter(spec.output.contains).toArray
    val blIdx = blNames.map(spec.output.indexOf)
    val blIsString = blNames.map(n =>
      schema.field(n).dataType == org.apache.spark.sql.types.StringType)
    val blExpected = math.max(1024L, math.min(
      if (bloomExpected.isDefinedAt(part.index)) bloomExpected(part.index)
      else graft.meta.BloomIndex.DefaultExpectedItems,
      graft.meta.BloomIndex.MaxExpectedItems))
    val blFilters = blNames.map(_ => org.apache.spark.util.sketch.BloomFilter
      .create(blExpected, graft.meta.BloomIndex.Fpp))
    val (inner, close, _) = SortedRun.open(spec, confW.value)
    context.addTaskCompletionListener[Unit](_ => close())
    var written = false

    def flush(): Unit = if (!written) {
      written = true
      // the sketch side-channel lives next to the table (same store) —
      // resolve it through the task's shipped Hadoop conf
      val (fs, dir) = graft.meta.GraftFS.resolve(sketchDir, confW.value)
      fs.mkdirs(dir)
      var f = 0
      while (f < kinds.length) {
        val bytes = graft.functions.KeySketch.serialize(kinds(f), sketches(f))
        val out = fs.create(new Path(dir, s"${part.index}-$f.sketch"), true)
        try out.write(bytes) finally out.close()
        f += 1
      }
      if (sumNames.nonEmpty) {
        val out = new java.io.DataOutputStream(
          fs.create(new Path(dir, s"${part.index}-sums.bin"), true))
        try {
          out.writeInt(sumNames.length)
          var i = 0
          while (i < sumNames.length) {
            out.writeUTF(sumNames(i))
            out.writeBoolean(sumOk(i))
            out.writeLong(sumCnt(i))
            out.writeLong(sumVal(i))
            out.writeLong(if (sumCnt(i) == 0) 0L else sumMin(i))
            out.writeLong(if (sumCnt(i) == 0) 0L else sumMax(i))
            i += 1
          }
        } finally out.close()
      }
      if (strNames.nonEmpty) {
        val out = new java.io.DataOutputStream(
          fs.create(new Path(dir, s"${part.index}-strs.bin"), true))
        try {
          out.writeInt(strNames.length)
          var i = 0
          while (i < strNames.length) {
            out.writeUTF(strNames(i))
            out.writeLong(strCnt(i))
            val mn = if (strCnt(i) == 0) Array.emptyByteArray else strMin(i).getBytes
            val mx = if (strCnt(i) == 0) Array.emptyByteArray else strMax(i).getBytes
            out.writeInt(mn.length); out.write(mn)
            out.writeInt(mx.length); out.write(mx)
            i += 1
          }
        } finally out.close()
      }
      if (blNames.nonEmpty) {
        val out = new java.io.DataOutputStream(
          fs.create(new Path(dir, s"${part.index}-bloom.bin"), true))
        try {
          out.writeInt(blNames.length)
          var i = 0
          while (i < blNames.length) {
            out.writeUTF(blNames(i))
            val bytes = {
              val bos = new java.io.ByteArrayOutputStream()
              blFilters(i).writeTo(bos)
              bos.toByteArray
            }
            out.writeInt(bytes.length); out.write(bytes)
            i += 1
          }
        } finally out.close()
      }
    }

    new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        val h = inner.hasNext
        if (!h) flush()
        h
      }
      override def next(): InternalRow = {
        val row = inner.next()
        var f = 0
        while (f < keyIdx.length) {
          val v = row.get(keyIdx(f), types(f))
          if (v != null) sketches(f).update(kinds(f).toItem(v).asInstanceOf[AnyRef])
          f += 1
        }
        var s = 0
        while (s < sumIdx.length) {
          if (!row.isNullAt(sumIdx(s))) {
            val l = sumTypes(s) match {
              case org.apache.spark.sql.types.LongType => row.getLong(sumIdx(s))
              case _ => row.getInt(sumIdx(s)).toLong
            }
            sumCnt(s) += 1
            if (l < sumMin(s)) sumMin(s) = l
            if (l > sumMax(s)) sumMax(s) = l
            if (sumOk(s)) {
              try sumVal(s) = Math.addExact(sumVal(s), l)
              catch { case _: ArithmeticException => sumOk(s) = false }
            }
          }
          s += 1
        }
        var t = 0
        while (t < strIdx.length) {
          if (!row.isNullAt(strIdx(t))) {
            val u = row.getUTF8String(strIdx(t))
            strCnt(t) += 1
            if (strMin(t) == null || u.compareTo(strMin(t)) < 0) strMin(t) = u.clone()
            if (strMax(t) == null || u.compareTo(strMax(t)) > 0) strMax(t) = u.clone()
          }
          t += 1
        }
        var b = 0
        while (b < blIdx.length) {
          if (!row.isNullAt(blIdx(b))) {
            blFilters(b).putLong(
              if (blIsString(b))
                graft.meta.BloomIndex.hashString(row.getUTF8String(blIdx(b)))
              else graft.meta.BloomIndex.hashLong(row.getLong(blIdx(b))))
          }
          b += 1
        }
        row
      }
    }
  }
}
