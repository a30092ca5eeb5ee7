package org.apache.spark.sql.execution.datasources.parquet

import java.lang.reflect.{Field, InvocationHandler, Method, Proxy}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's vectorized parquet reader for the graft DSv2
  * scan's single-file fast path: a fully-compacted leaf (one leaf-local
  * sorted file, no pending filter/aggregation work) can be served as
  * ColumnarBatches at native scan speed instead of through the row-based
  * N-way merge (~2x slower for whole-table analytics) — the same
  * rationale as the reference's vectorized engine (docs/design.md:318-329).
  *
  * The row-group-reader seam
  * (`SpecificParquetRecordReaderBase.ParquetRowGroupReader`) and the
  * 4-arg `initialize` overload are JAVA package-private, so they carry
  * real bytecode access checks — and a runtime package is (loader,
  * name), not just name. When this library ships via `spark.jars` /
  * `--jars` (the normal cluster deployment), executors load it in a
  * child classloader, where a compile-time-in-package anonymous
  * implementation dies with IllegalAccessError (caught by
  * LocalClusterSpec under local-cluster, invisible under local[N]).
  * The seam is therefore crossed reflectively: a `java.lang.reflect
  * .Proxy` defined in the INTERFACE's own classloader implements the
  * package-private interface, and the reader's protected fields and
  * private `initializeInternal` are reached via setAccessible —
  * everything else referenced here is public, so the bridge is
  * classloader-safe however the jar is deployed. (The Scala-side
  * bridges — ExpressionUtils, RowToColumnConverter — need no such
  * treatment: Scala `private[sql]` erases to public bytecode.)
  *
  * The bridge does NOT call the 4-argument `initialize` overload, though
  * that overload sets exactly the fields it needs: in Spark 4.1.2 the
  * overload builds a `new Configuration()` on every call, which loads
  * and parses the Hadoop XML resources, the largest single cost of a
  * point lookup's open. The bridge sets the same eight fields itself,
  * with one process-wide configuration carrying the same five flags
  * ([[readerConf]]), then runs the reader's own `initializeInternal`.
  */
object GraftVectorizedBridge {

  private val baseClass = classOf[SpecificParquetRecordReaderBase[_]]

  private lazy val rowGroupReaderIface: Class[_] =
    baseClass.getDeclaredClasses
      .find(_.getSimpleName == "ParquetRowGroupReader")
      .getOrElse(throw new IllegalStateException(
        "SpecificParquetRecordReaderBase.ParquetRowGroupReader not found — Spark internals moved"))

  /** The configuration every bridged reader holds: built once per
    * process, with the five flags the 4-argument `initialize` sets on its
    * own fresh copy, so the reader sees the same values. Readers only
    * read it.
    */
  private lazy val readerConf: Configuration = {
    val c = new Configuration()
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => c.setBoolean(e.key, false))
    c
  }

  private def field(name: String): Field = {
    val f = baseClass.getDeclaredField(name)
    f.setAccessible(true)
    f
  }
  private lazy val readerField = field("reader")
  private lazy val fileSchemaField = field("fileSchema")
  private lazy val requestedSchemaField = field("requestedSchema")
  private lazy val configurationField = field("configuration")
  private lazy val parquetColumnField = field("parquetColumn")
  private lazy val sparkSchemaField = field("sparkSchema")
  private lazy val sparkRequestedSchemaField = field("sparkRequestedSchema")
  private lazy val totalRowCountField = field("totalRowCount")

  private lazy val initializeInternal: Method = {
    val m = classOf[VectorizedParquetRecordReader].getDeclaredMethod("initializeInternal")
    m.setAccessible(true)
    m
  }

  /** What the 4-argument `initialize` overload does, with [[readerConf]]
    * in place of a fresh `Configuration`.
    */
  private def initialize(vec: VectorizedParquetRecordReader, fileSchema: MessageType,
      requested: MessageType, fileReader: ParquetFileReader, rows: Int): Unit = {
    val column = new ParquetToSparkSchemaConverter(readerConf)
      .convertParquetColumn(requested, None)
    val sparkSchema = column.sparkType.asInstanceOf[StructType]
    readerField.set(vec, rowGroupReaderFor(fileReader))
    fileSchemaField.set(vec, fileSchema)
    requestedSchemaField.set(vec, requested)
    configurationField.set(vec, readerConf)
    parquetColumnField.set(vec, column)
    sparkSchemaField.set(vec, sparkSchema)
    sparkRequestedSchemaField.set(vec, sparkSchema)
    totalRowCountField.setLong(vec, rows.toLong)
    initializeInternal.invoke(vec)
  }

  /** A ParquetRowGroupReader delegating to `fileReader`, defined in the
    * interface's own classloader so package access always holds.
    */
  private def rowGroupReaderFor(fileReader: ParquetFileReader): AnyRef =
    Proxy.newProxyInstance(
      rowGroupReaderIface.getClassLoader,
      Array(rowGroupReaderIface),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, method: Method, args: Array[AnyRef]): AnyRef =
          method.getName match {
            // only the pages the column-index filter keeps, as Spark's own
            // ParquetRowGroupReaderImpl reads them
            case "readNextRowGroup" => fileReader.readNextFilteredRowGroup()
            case "close" => fileReader.close(); null
            case "hashCode" => Int.box(System.identityHashCode(proxy))
            case "equals" => Boolean.box(args != null && (proxy eq args(0)))
            case "toString" => "GraftRowGroupReader"
            case other => throw new UnsupportedOperationException(other)
          }
      })

  /** An initialized vectorized reader over one parquet file, projected
    * to `columns`. An optional predicate skips whole row groups by their
    * statistics and, inside the row groups kept, every page whose
    * column-index min/max rules it out: a point lookup decodes about one
    * page per column. The rows returned are those of the kept pages, a
    * superset of the matching rows; callers needing exact rows test
    * them. The predicate may name only columns in `columns`: the page
    * filter reads any other column as all-null and would keep none of
    * its pages. The caller loops `nextKeyValue()` / `getCurrentValue` (a
    * ColumnarBatch) and must `close()`.
    *
    * Schema evolution: columns absent from the file (appended by
    * AddColumn after it was written; necessarily nullable) ride as
    * constant-null vectors via the reader's partition-column seam, which
    * appends them AFTER the parquet columns — so the returned
    * permutation (caller column i -> batch column perm(i)) restores the
    * caller's order; None when the batch order already matches.
    */
  def open(path: String, columns: StructType, rowGroupFilter: Option[FilterPredicate],
      capacity: Int, conf: Configuration,
      fileRange: Option[(Long, Long)] = None)
      : (VectorizedParquetRecordReader, Option[Array[Int]]) = {
    val fileReader = graft.exec.ParquetOpen(new Path(path), conf, { opts =>
      rowGroupFilter.foreach(p => opts.withRecordFilter(FilterCompat.get(p)))
      fileRange.foreach { case (s, e) => opts.withRange(s, e) }
      opts.useColumnIndexFilter(true)
    })
    try {
      val fileSchema = fileReader.getFooter.getFileMetaData.getSchema
      val inFile = (0 until fileSchema.getFieldCount)
        .map(i => fileSchema.getFields.get(i).getName).toSet
      // Column mapping (RENAME COLUMN): a field's former names ride in
      // its metadata under "graftAliases"; the file serves the field
      // under the first of (name, aliases…) it carries.
      def physicalIn(f: org.apache.spark.sql.types.StructField): Option[String] = {
        val names =
          if (f.metadata.contains("graftAliases"))
            f.name +: f.metadata.getStringArray("graftAliases").toSeq
          else Seq(f.name)
        names.find(inFile)
      }
      val resolvedNames = columns.fields.map(f => f -> physicalIn(f)).toMap
      val present = columns.fields.filter(f => resolvedNames(f).isDefined)
      val missing = columns.fields.filter(f => resolvedNames(f).isEmpty)
      require(missing.forall(_.nullable),
        s"parquet file missing non-nullable columns: " +
          missing.filterNot(_.nullable).map(_.name).mkString(","))
      val requested = new MessageType(fileSchema.getName,
        present.map(f => fileSchema.getFields.get(
          fileSchema.getFieldIndex(resolvedNames(f).get))): _*)
      fileReader.setRequestedSchema(requested)
      val rows = fileReader.getFilteredRecordCount // rows of the pages kept
      require(rows <= Int.MaxValue, s"file too large for one vectorized task: $rows rows")
      val vec = new VectorizedParquetRecordReader(false, capacity)
      initialize(vec, fileSchema, requested, fileReader, rows.toInt)
      vec.initBatch(StructType(missing),
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(missing.length))
      vec.enableReturningBatches()
      val perm =
        if (missing.isEmpty) None
        else {
          val presentIdx = present.map(_.name).zipWithIndex.toMap
          val missingIdx = missing.map(_.name).zipWithIndex.toMap
          Some(columns.fields.map(f => presentIdx.getOrElse(f.name,
            present.length + missingIdx(f.name))).toArray)
        }
      (vec, perm)
    } catch {
      case e: Throwable => fileReader.close(); throw e
    }
  }
}
