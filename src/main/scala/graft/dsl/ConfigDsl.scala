package graft.dsl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.GraftSchema
import graft.functions.{ConcatSortedAgg, MapMergeAgg}

/** The reference's table-config DSL for continual aggregation and
  * filtering: aggregation strings like `sum(count),map_max(m)` and filter
  * strings like `ageOff(ts,1209600000)`
  * (reference: Aggregation.parseConfig:56-71 + validation :95-116,
  * AgeOffFilter.parseConfig:47-58, rust function_reader.rs).
  */
object ConfigDsl {

  final case class AggSpec(op: String, field: String)

  private val call = """\s*(\w+)\s*\(\s*([^()]*?)\s*\)\s*""".r

  /** `last` is the last-write-wins (upsert) op: the value from the
    * newest write generation wins. Order-sensitive — every read path
    * resolves it by the file sequence (FileReference.seq); within one
    * ingest batch duplicate keys resolve arbitrarily (supply at most
    * one row per key per batch for deterministic results).
    */
  val aggOps: Set[String] = Set("sum", "min", "max", "last", "map_sum", "map_min", "map_max")

  /** Parse + validate an aggregation config against a schema. Enforced
    * exactly as the reference does: ops must target value fields (never
    * keys, Aggregation.java:95-107), cover every value field
    * (data_definition.md:15), no duplicates, no nullable fields
    * (Aggregation.java:109-116), map ops only on map fields.
    */
  def parseAggregation(config: String, schema: GraftSchema): Seq[AggSpec] = {
    if (config.trim.isEmpty) return Nil
    val specs = config.split(",(?![^()]*\\))").toSeq.map {
      case call(op, field) =>
        require(aggOps.contains(op), s"unknown aggregation op: $op")
        AggSpec(op, field)
      case other => throw new IllegalArgumentException(s"cannot parse aggregation: '$other'")
    }
    val keyNames = schema.keyNames.toSet
    specs.foreach { s =>
      require(!keyNames.contains(s.field), s"cannot aggregate key field ${s.field}")
      val f = schema.field(s.field)
      // `last` admits nullable fields: an upsert's explicit null is a
      // legitimate newest value (it overwrites on both read paths);
      // commutative ops keep the reference's non-nullable rule
      require(!f.nullable || s.op == "last",
        s"cannot aggregate nullable field ${s.field}")
      val isMap = f.dataType.isInstanceOf[MapType]
      require(isMap == s.op.startsWith("map_") || s.op == "last",
        s"op ${s.op} does not match type ${f.dataType.sql} of ${s.field}")
    }
    val dup = specs.groupBy(_.field).collect { case (f, ss) if ss.size > 1 => f }
    require(dup.isEmpty, s"duplicate aggregation for: ${dup.mkString(",")}")
    val missing = schema.valueNames.toSet -- specs.map(_.field).toSet
    require(missing.isEmpty, s"value fields not covered by aggregation: ${missing.mkString(",")}")
    specs
  }

  /** Aggregation columns for `groupBy(rowKeys ++ sortKeys).agg(...)`.
    * Numeric results are cast back to the declared field type (Spark
    * widens sum(int) to long; the reference restores declared types the
    * same way, datafusion.rs add_numeric_casts:294).
    */
  def aggColumns(specs: Seq[AggSpec], schema: GraftSchema): Seq[Column] = specs.map { s =>
    val f = schema.field(s.field)
    val c = col(s.field)
    val agg = (s.op, f.dataType) match {
      case ("sum", StringType | BinaryType) => ConcatSortedAgg.concat_sorted(c)
      case ("sum", _) => sum(c).cast(f.dataType)
      case ("min", _) => min(c)
      case ("max", _) => max(c)
      case ("last", _) => last(c)
      case ("map_sum", _) => MapMergeAgg.map_sum(c)
      case ("map_min", _) => MapMergeAgg.map_min(c)
      case ("map_max", _) => MapMergeAgg.map_max(c)
      case (op, t) => throw new IllegalArgumentException(s"unsupported $op on ${t.sql}")
    }
    agg.as(s.field)
  }

  sealed trait FilterSpec { def toColumn(nowMs: Long): Column }

  /** ageOff: keep a row iff its timestamp field (epoch-millis long) is
    * younger than maxAge; null timestamps are dropped
    * (reference: AgeOffFilter.java:32-86 — filter applied at query AND
    * compaction, making it a persistent delete).
    */
  final case class AgeOff(field: String, maxAgeMs: Long) extends FilterSpec {
    def toColumn(nowMs: Long): Column =
      col(field).isNotNull && col(field) > lit(nowMs - maxAgeMs)
  }

  def parseFilter(config: String, schema: GraftSchema): Option[FilterSpec] = {
    if (config.trim.isEmpty) return None
    config match {
      case call("ageOff", args) =>
        args.split(",").map(_.trim) match {
          case Array(field, maxAge) =>
            val f = schema.field(field)
            require(f.dataType == LongType, s"ageOff field $field must be a long (epoch ms)")
            Some(AgeOff(field, maxAge.toLong))
          case _ => throw new IllegalArgumentException(s"ageOff needs (field,maxAgeMs): $config")
        }
      case other => throw new IllegalArgumentException(s"unknown filter: '$other'")
    }
  }
}
