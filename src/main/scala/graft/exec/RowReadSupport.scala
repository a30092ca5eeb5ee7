package graft.exec

import java.util.{Map => JMap}
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.column.Dictionary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.GraftField

/** Parquet ReadSupport materializing records STRAIGHT into Catalyst
  * `InternalRow`s for the graft type surface (int/long/float/double/
  * string/binary + one-level list/map) — no intermediate `Group` object
  * tree, and string columns decode each dictionary entry to
  * `UTF8String` once per page instead of once per row. This is what
  * lifts the sorted-run merge from Java-engine throughput toward the
  * reference's vectorized-engine range (BASELINE.md: Java 170-400k
  * rows/s vs DataFusion 2.9-4.5M).
  */
private[exec] final class RowReadSupport(fields: Seq[GraftField])
  extends ReadSupport[InternalRow] {

  override def init(context: InitContext): ReadContext = {
    val full = context.getFileSchema
    val inFile = full.getFields.stream().map[String](_.getName)
      .toArray(n => new Array[String](n)).toSet
    // Column mapping: a field is served by the first of (name, aliases…)
    // the file carries — files written before a RENAME COLUMN still
    // store the old physical name (GraftField.aliases scaladoc).
    val resolved: Map[String, GraftField] = fields.flatMap(f =>
      f.readNames.find(inFile).map(_ -> f)).toMap
    val kept = full.getFields.stream().filter(f => resolved.contains(f.getName))
      .toArray(n => new Array[org.apache.parquet.schema.Type](n))
    // Schema evolution: columns appended after this file was written are
    // absent from it — they must be nullable (AddColumn enforces that)
    // and their slots stay null (start() pre-nulls every slot).
    val served = resolved.values.toSet
    val missing = fields.filterNot(served)
    require(missing.forall(_.nullable),
      s"parquet file missing non-nullable fields: ${missing.filterNot(_.nullable).map(_.name).mkString(",")}")
    new ReadContext(new MessageType(full.getName, kept: _*))
  }

  override def prepareForRead(conf: Configuration, metadata: JMap[String, String],
      fileSchema: MessageType, readContext: ReadContext): RecordMaterializer[InternalRow] =
    new RowMaterializer(readContext.getRequestedSchema, fields)
}

private final class RowMaterializer(requested: MessageType, fields: Seq[GraftField])
  extends RecordMaterializer[InternalRow] {

  // physical (file) column name → field: each of a field's readNames
  // may appear in a file, but never two of them (schema invariant)
  private val byName = fields.flatMap(f => f.readNames.map(_ -> f)).toMap
  private val outPos = fields.map(_.name).zipWithIndex.toMap

  private val values = new Array[Any](fields.size)

  private val root: GroupConverter = new GroupConverter {
    private val converters: Array[Converter] =
      (0 until requested.getFieldCount).map { i =>
        val pt = requested.getType(i)
        val field = byName(pt.getName)
        makeConverter(field.dataType, outPos(field.name))
      }.toArray

    override def getConverter(i: Int): Converter = converters(i)
    override def start(): Unit = java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
    override def end(): Unit = ()
  }

  private def makeConverter(dt: DataType, pos: Int): Converter = dt match {
    case IntegerType | LongType | FloatType | DoubleType | StringType | BinaryType =>
      new SlotConverter(dt, v => values(pos) = v)
    case ArrayType(et, _) => new ListConverter(et, v => values(pos) = v)
    case MapType(kt, vt, _) => new MapConverter(kt, vt, v => values(pos) = v)
    case other => throw new IllegalArgumentException(s"unsupported type ${other.sql}")
  }

  override def getCurrentRecord: InternalRow = new GenericInternalRow(values.clone())
  override def getRootConverter: GroupConverter = root
}

/** Primitive converter with per-page dictionary decode for strings. */
private final class SlotConverter(dt: DataType, sink: Any => Unit)
  extends PrimitiveConverter {

  private var dict: Array[Any] = _

  override def hasDictionarySupport: Boolean = dt match {
    case StringType | BinaryType => true
    case _ => false
  }

  override def setDictionary(dictionary: Dictionary): Unit = {
    dict = new Array[Any](dictionary.getMaxId + 1)
    var i = 0
    while (i <= dictionary.getMaxId) {
      dict(i) = dt match {
        case StringType => UTF8String.fromBytes(dictionary.decodeToBinary(i).getBytes)
        case BinaryType => dictionary.decodeToBinary(i).getBytes
        case _ => throw new IllegalStateException("dictionary on non-binary slot")
      }
      i += 1
    }
  }

  override def addValueFromDictionary(id: Int): Unit = sink(dict(id))
  override def addInt(v: Int): Unit = sink(v)
  override def addLong(v: Long): Unit = sink(v)
  override def addFloat(v: Float): Unit = sink(v)
  override def addDouble(v: Double): Unit = sink(v)
  override def addBinary(b: Binary): Unit = dt match {
    case StringType => sink(UTF8String.fromBytes(b.getBytes))
    case _ => sink(b.getBytes)
  }
}

/** 3-level LIST structure: group (LIST) { repeated group list { element } }. */
private final class ListConverter(et: DataType, sink: Any => Unit) extends GroupConverter {
  private val buf = new ArrayBuffer[Any]
  private val repeated: GroupConverter = new GroupConverter {
    private val elem = new SlotConverter(et, v => buf += v)
    private var lenAtStart = 0
    override def getConverter(i: Int): Converter = elem
    override def start(): Unit = lenAtStart = buf.length
    // a list entry whose optional element produced no value is a null element
    override def end(): Unit = if (buf.length == lenAtStart) buf += null
  }
  override def getConverter(i: Int): Converter = repeated
  override def start(): Unit = buf.clear()
  override def end(): Unit = sink(new GenericArrayData(buf.toArray))
}

/** MAP structure: group (MAP) { repeated group key_value { key; value } }. */
private final class MapConverter(kt: DataType, vt: DataType, sink: Any => Unit)
  extends GroupConverter {
  private val keys = new ArrayBuffer[Any]
  private val vals = new ArrayBuffer[Any]
  private val kv: GroupConverter = new GroupConverter {
    private val k = new SlotConverter(kt, v => keys += v)
    private val v = new SlotConverter(vt, x => vals += x)
    override def getConverter(i: Int): Converter = if (i == 0) k else v
    override def start(): Unit = ()
    override def end(): Unit = if (vals.length < keys.length) vals += null // null value
  }
  override def getConverter(i: Int): Converter = kv
  override def start(): Unit = { keys.clear(); vals.clear() }
  override def end(): Unit = sink(ArrayBasedMapData(keys.toArray, vals.toArray))
}
