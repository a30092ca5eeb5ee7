package graft.meta

import java.io.{DataInputStream, DataOutputStream}
import graft.core.GraftSchema
import graft.functions.KeySketch

/** Sidecar file of per-row-key-field quantile sketches, written next to
  * each data file as `<file>.sketches` — the reference's sketch sidecar
  * store (reference: java/common/sketches/.../Sketches.java,
  * S3SketchesStore.java). Format: count, then (fieldName, bytes) pairs.
  * Resolved through the Hadoop FileSystem API, so sidecars live wherever
  * the data files do (local, HDFS, object store).
  */
object SketchSidecar {

  def pathFor(dataFile: String): String = dataFile + ".sketches"

  def write(dataFile: String, sketches: Seq[(String, Array[Byte])]): Unit = {
    val (fs, p) = GraftFS.resolve(pathFor(dataFile))
    val out = new DataOutputStream(fs.create(p, true))
    try {
      out.writeInt(sketches.size)
      sketches.foreach { case (name, bytes) =>
        out.writeUTF(name)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
  }

  def read(dataFile: String): Map[String, Array[Byte]] = {
    val (fs, p) = GraftFS.resolve(pathFor(dataFile))
    val in = new DataInputStream(fs.open(p))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val name = in.readUTF()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        name -> bytes
      }.toMap
    } finally in.close()
  }

  def exists(dataFile: String): Boolean = GraftFS.exists(pathFor(dataFile))

  /** Process-wide LRU cache of sidecar contents, byte-budgeted
    * (`graft.sidecar.cache.bytes`, default 256 MB). Data files are
    * immutable and never rewritten under the same uuid filename, so a
    * cached entry can never go stale; a miss (file absent at read time)
    * is cached too — sidecars are written BEFORE the state-store commit
    * that makes their data file visible, so an absent sidecar stays
    * absent. Shields the query planner from re-reading file-skipping
    * metadata (stats + blooms) on every query over the same files.
    */
  private val cacheBudget: Long =
    java.lang.Long.getLong("graft.sidecar.cache.bytes", 256L * 1024 * 1024)
  private val cache =
    new java.util.LinkedHashMap[String, (Option[Map[String, Array[Byte]]], Long)](
      128, 0.75f, true)
  private var cachedBytes = 0L

  def readCachedOpt(dataFile: String): Option[Map[String, Array[Byte]]] =
    cache.synchronized {
      val hit = cache.get(dataFile)
      if (hit != null) hit._1
      else {
        val loaded =
          try { if (exists(dataFile)) Some(read(dataFile)) else None }
          catch { case scala.util.control.NonFatal(_) => None }
        val bytes = 256L + loaded.map(_.valuesIterator.map(_.length.toLong).sum).getOrElse(0L)
        cache.put(dataFile, (loaded, bytes))
        cachedBytes += bytes
        // evict eldest-first; access-order guarantees the entry just
        // added is last, so the size>1 guard can never evict it
        val it = cache.entrySet().iterator()
        while (cachedBytes > cacheBudget && cache.size > 1 && it.hasNext) {
          val e = it.next()
          cachedBytes -= e.getValue._2
          it.remove()
        }
        loaded
      }
    }

  /** Reserved sidecar entry name for per-file integral-column stats:
    * the sidecar map is (name → bytes), so stats entries ride the
    * existing format under a prefix no schema field can collide with
    * (field names never start with "__"). Payload = non-null count,
    * sum, min, max (8 bytes BE each; min/max meaningless when count is
    * 0). Readers that don't know the prefix ignore it; files written
    * before stats existed simply lack the entry, which makes
    * SUM/MIN/MAX pushdown decline gracefully (never answer wrong).
    */
  def sumEntryName(field: String): String = "__stats:" + field

  final case class ColumnStats(nonNullCount: Long, sum: Long, min: Long, max: Long)

  def encodeSum(stats: ColumnStats): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(32)
    b.putLong(stats.nonNullCount); b.putLong(stats.sum)
    b.putLong(stats.min); b.putLong(stats.max)
    b.array()
  }

  def decodeSum(bytes: Array[Byte]): ColumnStats = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    ColumnStats(b.getLong(), b.getLong(), b.getLong(), b.getLong())
  }

  /** Per-file STRING-column stats entry: non-null count + exact min/max
    * strings (UTF-8, length-prefixed) — the data-skipping metadata for
    * categorical predicates (`lang = 'en'`). Same prefix/compatibility
    * rules as [[sumEntryName]]; min/max comparisons happen in UTF-8
    * binary order ([[graft.core.KeyOrdering.compareUtf8]]), the order
    * Spark's UTF8String comparisons use, so skip decisions agree with
    * executor row comparisons.
    */
  def strEntryName(field: String): String = "__strstats:" + field

  /** Per-file Bloom value-index entry (see [[BloomIndex]]); the bytes
    * are a serialized Spark `BloomFilter`.
    */
  def bloomEntryName(field: String): String = "__bloom:" + field

  /** Per-file row-group layout entry: (startingPos, rowCount) per row
    * group, captured from the footer ONCE at write time. Lets the
    * last-n trailing-row-group prune (SortedRun.lastRowGroupsStart)
    * run metadata-only — at a 10k-file leaf set the alternative is 10k
    * sequential footer round-trips per last-page query before the
    * first task launches (~minutes on an object store). Pre-field
    * files simply lack the entry and fall back to the footer.
    */
  val rowGroupsEntryName: String = "__rowgroups"

  def encodeRowGroups(groups: Seq[(Long, Long)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 + 16 * groups.size)
    b.putInt(groups.size)
    groups.foreach { case (start, rows) => b.putLong(start); b.putLong(rows) }
    b.array()
  }

  def decodeRowGroups(bytes: Array[Byte]): Seq[(Long, Long)] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    val n = b.getInt()
    (0 until n).map(_ => (b.getLong(), b.getLong()))
  }

  /** Build the row-group layout entry for a just-written data file (one
    * footer read, paid once per file lifetime instead of once per
    * last-page query).
    */
  def rowGroupsEntry(dataFile: String): (String, Array[Byte]) =
    rowGroupsEntryName -> encodeRowGroups(graft.exec.ParquetOpen.rowGroups(
      new org.apache.hadoop.fs.Path(dataFile), GraftFS.conf))

  final case class StringStats(nonNullCount: Long, min: String, max: String)

  def encodeStr(stats: StringStats): Array[Byte] = {
    val mn = Option(stats.min).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mx = Option(stats.max).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = java.nio.ByteBuffer.allocate(8 + 4 + mn.length + 4 + mx.length)
    b.putLong(stats.nonNullCount)
    b.putInt(mn.length); b.put(mn)
    b.putInt(mx.length); b.put(mx)
    b.array()
  }

  def decodeStr(bytes: Array[Byte]): StringStats = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    val cnt = b.getLong()
    val mn = new Array[Byte](b.getInt()); b.get(mn)
    val mx = new Array[Byte](b.getInt()); b.get(mx)
    StringStats(cnt,
      new String(mn, java.nio.charset.StandardCharsets.UTF_8),
      new String(mx, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Merged sketch for one row-key field across data files (A5). */
  def mergedSketch(schema: GraftSchema, field: String, dataFiles: Seq[String])
      : Option[org.apache.datasketches.quantiles.ItemsSketch[AnyRef]] = {
    val kind = KeySketch.kindOf(schema.field(field).dataType)
    val parts = dataFiles.filter(exists).flatMap(f => read(f).get(field))
    if (parts.isEmpty) None else Some(KeySketch.union(kind, parts))
  }
}
