package graft.sources

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.Region

/** The driver-local arm of [[graft.table.GraftTable.query]], the
  * reference's embedded query path (QueryExecutor planning against a
  * loaded state snapshot, LeafPartitionRowRetrieverImpl reading the
  * files in-process). A query of at most [[Region.ManyPoints]] point keys
  * whose [[GraftScan]] plans exactly one input partition is read on the
  * calling thread by that scan's own [[GraftReaderFactory]] reader, the
  * native columnar reader for a compacted leaf and the row merge
  * otherwise, and its rows go back to Spark as a local relation: no job,
  * no task. The readers stay the only code that knows the scan
  * semantics. Any other query, and a point scan holding more than
  * [[MaxRows]] rows, takes the job arm (the relation plan).
  *
  * Every decision is logged as one line at INFO on this object's logger:
  * its inputs (input partitions, point keys, rows read locally) and the
  * arm taken, `local`, `job` or `cap-fallback`.
  */
object LocalPointScan extends Logging {

  /** One reader batch. A point scan past it (a non-aggregating table
    * with many rows per key) is dropped and read by a job instead.
    */
  val MaxRows = 4096

  /** One query's gate. `inputPartitions` is None when the regions are
    * not a point-key list, so no scan was planned here; `rows`, the
    * copied rows, is defined when the local arm was taken. `rowsRead`
    * and `rowsDecoded` are the local read's scan metrics (rows emitted
    * and rows the parquet readers decoded).
    */
  final case class Decision(inputPartitions: Option[Int], pointKeys: Int,
      rowsRead: Long, rowsDecoded: Long, rows: Option[IndexedSeq[InternalRow]]) {
    def arm: String =
      if (rows.isDefined) "local" else if (rowsRead > MaxRows) "cap-fallback" else "job"
  }

  /** The number of point keys when every region is one key and there are
    * at most [[Region.ManyPoints]] of them (more are a key batch), else 0.
    */
  private def pointKeys(regions: Seq[Region]): Int =
    if (regions.nonEmpty && regions.size <= Region.ManyPoints &&
        regions.forall(r => r.ranges.nonEmpty && r.ranges.forall(_.point.isDefined)))
      regions.size
    else 0

  /** Decide, and read if local, the scan of `table` (a read view bound
    * to its base regions) projected to `required`, which must be fields
    * of `table.schema()`.
    */
  def decide(table: GraftBatchTable, regions: Seq[Region], required: StructType): Decision = {
    val points = pointKeys(regions)
    val d =
      if (points == 0) Decision(None, 0, 0L, 0L, None)
      else read(table, points, required)
    logInfo(s"GraftTable.query ${table.name()}: arm=${d.arm} " +
      s"inputPartitions=${d.inputPartitions.fold("unplanned")(_.toString)} " +
      s"pointKeys=${d.pointKeys} rowsRead=${d.rowsRead}")
    d
  }

  private def read(table: GraftBatchTable, points: Int, required: StructType): Decision = {
    // the planning Spark does for the relation plan: pruning, then build
    val builder = table.newScanBuilder(CaseInsensitiveStringMap.empty())
    builder.asInstanceOf[GraftScanBuilder].pruneColumns(required)
    val batch = builder.build().toBatch
    val parts = batch.planInputPartitions()
    if (parts.length != 1) return Decision(Some(parts.length), points, 0L, 0L, None)
    val factory = batch.createReaderFactory()
    val rows = ArrayBuffer.empty[InternalRow]
    // copies each row out of the reader's reused row or batch, stopping
    // one row past the cap
    def drain[T](reader: PartitionReader[T])(rowsOf: T => Iterator[InternalRow]): Long =
      try {
        while (rows.length <= MaxRows && reader.next()) {
          val it = rowsOf(reader.get())
          while (rows.length <= MaxRows && it.hasNext) rows += it.next().copy()
        }
        reader.currentMetricsValues()
          .find(_.name == GraftScanMetrics.RowsDecoded).fold(0L)(_.value)
      } finally reader.close()
    val decoded =
      if (factory.supportColumnarReads(parts.head)) {
        import scala.jdk.CollectionConverters._
        drain(factory.createColumnarReader(parts.head))(_.rowIterator().asScala)
      } else drain(factory.createReader(parts.head))(Iterator.single)
    Decision(Some(1), points, rows.length.toLong, decoded,
      if (rows.length > MaxRows) None else Some(rows.toIndexedSeq))
  }
}
