package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import graft.core._
import graft.exec.{RunSpec, SortedRun}
import graft.table.GraftTable

/** Shuffle-free co-partitioned merge join between two graft tables.
  *
  * When two tables share the same partition tree (identical leaf key
  * regions, position-compatible row-key types), their data is already
  * co-located on disk: leaf i of the left table holds exactly the key
  * range of leaf i of the right table, and every file within a leaf is
  * key-sorted. Joining them therefore needs NO shuffle and NO sort —
  * one task per leaf pair streams both sides' N-way merges through a
  * sorted merge join on the row keys. This is the storage-partitioned
  * join Spark's own SPJ (SupportsReportPartitioning +
  * KeyGroupedPartitioning) cannot express for RANGE co-partitioning
  * (SPJ only matches identity/bucket transform values), hence the
  * custom leaf-zipped RDD rather than a Catalyst join: at 100 TB the
  * alternative is shuffling both fact tables on the join key.
  *
  * Semantics: equi-join on the row-key tuple (positional — field names
  * may differ between the tables); `inner` or `left` outer. Each side's
  * persistent filter/aggregation config applies in its merge stream
  * (same read path as queries and compaction), so the join sees exactly
  * what `table.toDF` would. Many-to-many key groups are supported; only
  * the current right-side key group is buffered (bounded by the largest
  * single-key group, not the partition).
  *
  * Output schema: all left columns, then the right table's sort-key and
  * value columns (its row keys are redundant with the left's). Name
  * clashes must be resolved by the caller (rename a side's value fields
  * at table-design time); under `left` the right columns are nullable.
  */
object CoJoin {

  def join(left: GraftTable, right: GraftTable,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"joinType must be inner or left, got $joinType")
    val ls = left.schema
    val rs = right.schema
    require(ls.rowKeys.map(_.dataType) == rs.rowKeys.map(_.dataType),
      s"row-key types must match positionally: " +
        s"${ls.rowKeys.map(_.dataType.sql)} vs ${rs.rowKeys.map(_.dataType.sql)}")
    val rightOut = rs.sortKeys ++ rs.values
    val clash = rightOut.map(_.name).toSet
      .intersect(ls.allFields.map(_.name).toSet)
    require(clash.isEmpty,
      s"right-side output columns clash with left columns: ${clash.mkString(",")}")

    val lLeaves = sortedLeaves(left)
    val rLeaves = sortedLeaves(right)
    require(lLeaves.size == rLeaves.size,
      s"partition trees differ: ${lLeaves.size} vs ${rLeaves.size} leaves")
    lLeaves.zip(rLeaves).foreach { case (a, b) =>
      require(sameBounds(a.region, b.region),
        s"leaf regions differ: ${a.region} vs ${b.region}")
    }

    val nowMs = System.currentTimeMillis()
    val lSpecs = lLeaves.map(leafSpec(left, _, nowMs))
    val rSpecs = rLeaves.map(leafSpec(right, _, nowMs))
    val keyTypes = ls.rowKeys.map(_.dataType).toArray
    val leftTypes = ls.allFields.map(_.dataType).toArray
    val rightTypes = rs.allFields.map(_.dataType).toArray
    val rdd = new CoJoinRDD(left.spark.sparkContext, lSpecs, rSpecs,
      keyTypes, leftTypes, rightTypes, leftOuter = joinType == "left")
    val outSchema = StructType(
      ls.toStructType.fields ++
        rightOut.map(f => StructField(f.name, f.dataType,
          nullable = f.nullable || joinType == "left")))
    bridge.internalCreateDataFrame(left.spark, rdd, outSchema)
  }

  /** Leaves in key order (canonical regions tile the space, so ordering
    * by each dimension's lower bound — None = -inf — is total).
    */
  private def sortedLeaves(t: GraftTable): Seq[Partition] =
    t.store.partitionTree.leaves.sortWith { (a, b) => regionLt(a.region, b.region) }

  private def regionLt(a: Region, b: Region): Boolean = {
    a.ranges.zip(b.ranges).foreach { case (ra, rb) =>
      val c = cmpBound(ra.min, rb.min)
      if (c != 0) return c < 0
    }
    false
  }

  private def cmpBound(a: Option[Any], b: Option[Any]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) => KeyOrdering.compare(x, y)
  }

  /** Positional region equality — bounds only, field names may differ. */
  private def sameBounds(a: Region, b: Region): Boolean =
    a.ranges.size == b.ranges.size && a.ranges.zip(b.ranges).forall {
      case (ra, rb) =>
        cmpBound(ra.min, rb.min) == 0 && cmpBound(ra.max, rb.max) == 0 &&
          ra.minInclusive == rb.minInclusive && ra.maxInclusive == rb.maxInclusive
    }

  /** The leaf's merged read: its own files plus ancestor (pre-split)
    * files clipped to the leaf region, with the table's persistent
    * filter/aggregation applied — the query/compaction read path.
    */
  private def leafSpec(t: GraftTable, leaf: Partition, nowMs: Long): RunSpec = {
    val tree = t.store.partitionTree
    val byPart = t.store.fileReferences.groupBy(_.partitionId)
    val refs = byPart.getOrElse(leaf.id, Nil) ++
      tree.ancestors(leaf.id).flatMap(a => byPart.getOrElse(a.id, Nil))
    RunSpec(
      refs.map(t.pathOf).distinct,
      t.schema,
      t.schema.allFields.map(_.name),
      Some(leaf.region),
      t.config.aggregationConfig,
      t.config.filterConfig,
      nowMs)
  }
}

private[operators] final case class CoJoinPartition(
    index: Int, lSpec: RunSpec, rSpec: RunSpec)
  extends org.apache.spark.Partition

/** One partition per aligned leaf pair; compute = streaming sorted merge
  * join of the two leaf merge streams. No shuffle dependency anywhere —
  * the specs ride inside the Partition objects like MergeRDD's.
  */
private[operators] final class CoJoinRDD(
    @transient private val sc: org.apache.spark.SparkContext,
    lSpecs: Seq[RunSpec],
    rSpecs: Seq[RunSpec],
    keyTypes: Array[DataType],
    leftTypes: Array[DataType],
    rightTypes: Array[DataType],
    leftOuter: Boolean)
  extends org.apache.spark.rdd.RDD[InternalRow](sc, Nil) {

  private val confW = graft.meta.GraftFS.serializableConf

  override protected def getPartitions: Array[org.apache.spark.Partition] =
    lSpecs.zip(rSpecs).zipWithIndex.map { case ((l, r), i) =>
      CoJoinPartition(i, l, r): org.apache.spark.Partition
    }.toArray

  override def compute(split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[CoJoinPartition]
    def open(spec: RunSpec): Iterator[InternalRow] =
      if (spec.paths.isEmpty) Iterator.empty
      else {
        val (it, close, _) = SortedRun.open(spec, confW.value)
        context.addTaskCompletionListener[Unit](_ => close())
        it
      }
    val lIt = open(p.lSpec)
    if (!leftOuter && p.rSpec.paths.isEmpty) return Iterator.empty
    new MergeJoinIterator(lIt, open(p.rSpec).buffered,
      keyTypes, leftTypes, rightTypes, leftOuter)
  }
}

/** Sorted merge join on the leading `keyTypes.length` columns of both
  * streams. Buffers only the right rows of the CURRENT key group
  * (copied — upstream readers may reuse row objects); left rows stream.
  */
private[operators] final class MergeJoinIterator(
    lIt: Iterator[InternalRow],
    rIt: BufferedIterator[InternalRow],
    keyTypes: Array[DataType],
    leftTypes: Array[DataType],
    rightTypes: Array[DataType],
    leftOuter: Boolean)
  extends Iterator[InternalRow] {

  private val nK = keyTypes.length
  private val rightOutTypes: Array[DataType] = rightTypes.drop(nK)
  private val outArity = leftTypes.length + rightOutTypes.length

  // current right-side key group (rows copied), keyed by its key tuple
  private var groupKey: Array[Any] = null
  private var group: Array[InternalRow] = Array.empty

  private var curLeft: InternalRow = null
  private var matchIdx = 0
  private var nextRow: InternalRow = null

  private def keyOf(row: InternalRow): Array[Any] = {
    val k = new Array[Any](nK)
    var i = 0
    while (i < nK) { k(i) = row.get(i, keyTypes(i)); i += 1 }
    k
  }

  private def cmpRowVsKey(row: InternalRow, key: Array[Any]): Int = {
    var i = 0
    while (i < nK) {
      val c = graft.exec.SortedRunAccess.compareInternal(
        keyTypes(i), row.get(i, keyTypes(i)), key(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Position the right group at the left row's key (streams forward —
    * both sides ascend, so discarded right rows can never match again).
    */
  private def fillGroup(l: InternalRow): Unit = {
    if (groupKey != null && cmpRowVsKey(l, groupKey) == 0) return
    groupKey = keyOf(l)
    while (rIt.hasNext && cmpRowVsKey(rIt.head, groupKey) < 0) rIt.next()
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    while (rIt.hasNext && cmpRowVsKey(rIt.head, groupKey) == 0) buf += rIt.next().copy()
    group = buf.toArray
  }

  private def joined(l: InternalRow, r: InternalRow): InternalRow = {
    val vals = new Array[Any](outArity)
    var i = 0
    while (i < leftTypes.length) { vals(i) = l.get(i, leftTypes(i)); i += 1 }
    if (r != null) {
      var j = 0
      while (j < rightOutTypes.length) {
        vals(leftTypes.length + j) = r.get(nK + j, rightOutTypes(j))
        j += 1
      }
    }
    new GenericInternalRow(vals)
  }

  private def advance(): Unit = {
    while (nextRow == null) {
      if (curLeft != null && matchIdx < group.length) {
        nextRow = joined(curLeft, group(matchIdx))
        matchIdx += 1
        return
      }
      curLeft = null
      if (!lIt.hasNext) return
      // copy: the joined rows reference this row's objects, and the
      // upstream merge may reuse buffers once we pull the next row
      val l = lIt.next().copy()
      fillGroup(l)
      if (group.nonEmpty) { curLeft = l; matchIdx = 0 }
      else if (leftOuter) { nextRow = joined(l, null); return }
    }
  }

  override def hasNext: Boolean = { advance(); nextRow != null }

  override def next(): InternalRow = {
    advance()
    if (nextRow == null) throw new NoSuchElementException("empty join stream")
    val r = nextRow
    nextRow = null
    r
  }
}
