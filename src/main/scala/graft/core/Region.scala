package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, concat, length, lit}

/** A range over one row-key dimension, canonically min-inclusive /
  * max-exclusive. `None` bounds mean unbounded.
  *
  * Mirrors the reference's Range/RangeCanonicaliser semantics
  * (reference: java/core/src/main/java/sleeper/core/range/Range.java:34-39,
  * RangeCanonicaliser.java): a query range in any inclusive/exclusive form
  * is canonicalised before use; the canonical form for discrete types
  * (int/long) bumps bounds by 1; strings append NUL (U+0000) for an inclusive
  * max / exclusive min successor; byte arrays append 0x00.
  */
final case class KeyRange(
    field: String,
    min: Option[Any],
    minInclusive: Boolean,
    max: Option[Any],
    maxInclusive: Boolean) {

  /** Canonical min-inclusive / max-exclusive form. Exact for discrete
    * types (Int, Long, String, Array[Byte]); identity when already
    * canonical. Doubles/timestamps are left as-is with their flags.
    */
  def canonical: KeyRange = {
    def succ(v: Any): Option[Any] = v match {
      case i: Int => if (i == Int.MaxValue) None else Some(i + 1)
      case l: Long => if (l == Long.MaxValue) None else Some(l + 1)
      case s: String => Some(s + "\u0000")
      case b: Array[Byte] => Some(b :+ 0.toByte)
      case _ => throw new IllegalArgumentException(
        s"no successor for ${v.getClass}; use explicit bounds")
    }
    var r = this
    if (!r.minInclusive && r.min.isDefined)
      r = r.copy(min = succ(r.min.get), minInclusive = true)
    if (r.maxInclusive && r.max.isDefined)
      r = r.copy(max = succ(r.max.get), maxInclusive = false)
    r
  }

  /** Catalyst predicate for this range — plain comparisons so the filter
    * pushes down to the parquet scan (reference builds the same predicate
    * as a Parquet FilterPredicate, RangeQueryUtils.java:43-150).
    */
  def toColumn: Column = {
    val c = col(field)
    val lower = min.map(v => if (minInclusive) c >= lit(v) else c > lit(v))
    val upper = max.map(v => if (maxInclusive) c <= lit(v) else c < lit(v))
    (lower, upper) match {
      case (Some(a), Some(b)) => a && b
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => lit(true)
    }
  }

  /** The single Int/Long/String value this range admits, in exact
    * (`[v, v]`) or canonical (`[v, succ(v))`) form; None otherwise.
    */
  def point: Option[Any] = min match {
    case Some(v @ (_: Int | _: Long | _: String)) if minInclusive &&
        canonical.max == KeyRange.exact(field, v).canonical.max => Some(v)
    case _ => None
  }

  /** Overlap test on canonical ranges (both min-incl/max-excl):
    * disjoint iff one range ends at or before the other begins.
    */
  def overlaps(other: KeyRange): Boolean = {
    val a = canonical; val b = other.canonical
    def le(x: Option[Any], y: Option[Any]): Boolean = (x, y) match {
      case (Some(xm), Some(ym)) => KeyOrdering.compare(xm, ym) <= 0
      case _ => false // an unbounded side never terminates before the other starts
    }
    !(le(a.max, b.min) || le(b.max, a.min))
  }
}

object KeyRange {
  /** Inclusive-min, exclusive-max — the canonical constructor. */
  def minMax(field: String, min: Any, max: Any): KeyRange =
    KeyRange(field, Option(min), minInclusive = true, Option(max), maxInclusive = false)
  def exact(field: String, value: Any): KeyRange =
    KeyRange(field, Some(value), minInclusive = true, Some(value), maxInclusive = true)
  def unbounded(field: String): KeyRange =
    KeyRange(field, None, minInclusive = true, None, maxInclusive = false)
  def atLeast(field: String, min: Any): KeyRange =
    KeyRange(field, Some(min), minInclusive = true, None, maxInclusive = false)
  def below(field: String, max: Any): KeyRange =
    KeyRange(field, None, minInclusive = true, Some(max), maxInclusive = false)
}

/** Cross-type key comparison matching the reference's key ordering:
  * ints/longs numeric, strings lexicographic (UTF-8 binary), byte arrays
  * unsigned lexicographic (reference: KeyComparator.java:31-59,
  * AggregationOp.java:70 Arrays.compareUnsigned).
  */
object KeyOrdering {
  def compare(x: Any, y: Any): Int = (x, y) match {
    case (a: Int, b: Int) => java.lang.Integer.compare(a, b)
    case (a: Long, b: Long) => java.lang.Long.compare(a, b)
    case (a: Int, b: Long) => java.lang.Long.compare(a.toLong, b)
    case (a: Long, b: Int) => java.lang.Long.compare(a, b.toLong)
    case (a: String, b: String) => compareUtf8(a, b)
    case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
    case (a: Double, b: Double) => java.lang.Double.compare(a, b)
    case _ => throw new IllegalArgumentException(
      s"incomparable key types: ${x.getClass} vs ${y.getClass}")
  }

  /** UTF-8 binary order, which is code-point order — NOT UTF-16 code-unit
    * order (`String.compareTo`): supplementary-plane characters (surrogate
    * pairs, 0xD800-0xDFFF units) sort above all BMP characters in UTF-8 but
    * below U+E000..U+FFFF in UTF-16. Executors compare in Spark's
    * UTF8String binary order, so the driver must match or split-point
    * routing and leaf lookup disagree with executor row routing.
    * Allocation-free: compares code points at the first differing unit.
    */
  def compareUtf8(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) return Integer.compare(a.codePointAt(i), b.codePointAt(i))
      i += 1
    }
    Integer.compare(a.length, b.length)
  }
}

/** A hyper-rectangle: one range per row-key dimension, ANDed. A query is a
  * list of regions, ORed. (reference: Region.java:37-50; OR-composition
  * rust/sleeper_core/src/datafusion/leaf_partition_query.rs:232-248)
  */
final case class Region(ranges: Seq[KeyRange]) {
  def canonical: Region = Region(ranges.map(_.canonical))
  /** No range bounds its field: the region is the whole key space. */
  def unbounded: Boolean = ranges.forall(r => r.min.isEmpty && r.max.isEmpty)
  def toColumn: Column = ranges.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
  def overlaps(other: Region): Boolean = {
    val byField = other.ranges.map(r => r.field -> r).toMap
    ranges.forall(r => byField.get(r.field).forall(r.overlaps))
  }
}

object Region {
  def apply(first: KeyRange, rest: KeyRange*): Region = Region(first +: rest)

  /** Above this many point regions, a query is a key batch (the
    * LSH-index / serving-tier shape) rather than a handful of ranges:
    * [[anyOf]] tests membership by hash, and the scan reads the batch's
    * bounding box instead of OR-ing the points.
    */
  val ManyPoints = 32

  /** A key batch — more than [[ManyPoints]] point regions over one
    * field sequence — as its key tuples and their bounding box (per
    * field, lowest to highest value); None for any other region list.
    */
  def keyBatch(regions: Seq[Region]): Option[(Seq[Seq[Any]], Region)] =
    if (regions.length <= ManyPoints) None
    else {
      val fields = regions.head.ranges.map(_.field)
      val keys = regions.map(r =>
        if (r.ranges.map(_.field) != fields) None
        else {
          val vs = r.ranges.map(_.point)
          if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
        })
      if (!keys.forall(_.isDefined)) None
      else {
        val tuples = keys.map(_.get)
        val order = Ordering.fromLessThan[Any](KeyOrdering.compare(_, _) < 0)
        Some((tuples, Region(fields.indices.map { i =>
          val vs = tuples.map(_(i))
          KeyRange(fields(i), Some(vs.min(order)), minInclusive = true,
            Some(vs.max(order)), maxInclusive = true)
        })))
      }
    }

  /** OR of several regions as one Catalyst predicate.
    *
    * A key batch ([[keyBatch]]) as an OR chain costs O(regions) per
    * ROW and a giant codegen tree per QUERY; instead the key tuple is
    * encoded once per row and tested against an InSet (O(1) hash probe),
    * ANDed with the batch's bounding box so parquet row-group pruning
    * still gets pushable range bounds. Each stringified field is
    * LENGTH-PREFIXED (char count, U+0001, value) before concatenation,
    * which makes the encoding injective for arbitrary string contents —
    * a bare separator would conflate ('xy','z') with ('x','yz'). The
    * prefix counts Unicode code points on both sides (Spark `length` ==
    * UTF8String.numChars; driver `codePointCount`), and int/long/string
    * `cast("string")` equals the driver-side `String.valueOf`, so
    * membership is exact key equality. A null field encodes to a null
    * (unmatchable) key, never a conflated one.
    *
    * Otherwise the regions combine as a BALANCED tree: a linear fold
    * gives expression depth N, which blows the analyzer stack at
    * thousands of regions; a balanced tree is depth log N.
    */
  def anyOf(regions: Seq[Region]): Column = keyBatch(regions) match {
    case Some((keys, box)) =>
      val enc = concat(regions.head.ranges.flatMap { r =>
        val s = col(r.field).cast("string")
        Seq(length(s).cast("string"), lit("\u0001"), s)
      }: _*)
      val keyStrs = keys.map(_.map { v =>
        val s = String.valueOf(v)
        s"${s.codePointCount(0, s.length)}\u0001$s"
      }.mkString)
      box.toColumn && enc.isInCollection(keyStrs)
    case None =>
      var level: Vector[Column] = regions.map(_.toColumn).toVector
      if (level.isEmpty) return lit(true)
      while (level.length > 1)
        level = level.grouped(2).map(g =>
          if (g.length == 2) g(0) || g(1) else g(0)).toVector
      level.head
  }
}
