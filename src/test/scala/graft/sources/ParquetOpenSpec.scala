package graft.sources

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.parquet.{GraftVectorizedBridge, SpecificParquetRecordReaderBase}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.ParquetOpen

/** Parquet opens reuse an already-loaded Hadoop configuration instead of
  * building (and parsing the XML resources of) a fresh one per file.
  */
class ParquetOpenSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** The parquet files of a fresh `n`-row (id) dataset, one per partition. */
  private def files(n: Long, parts: Int): Seq[String] = {
    val dir = Files.createTempDirectory("graft-open").toString + "/d"
    spark.range(0L, n, 1L, parts).write.parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
  }

  test("bridge opens of different files share one reader configuration") {
    val paths = files(1000L, 2)
    assert(paths.size == 2)
    val conf = spark.sparkContext.hadoopConfiguration
    val field = classOf[SpecificParquetRecordReaderBase[_]].getDeclaredField("configuration")
    field.setAccessible(true)
    val readers = paths.map(p => GraftVectorizedBridge.open(p,
      StructType(Seq(StructField("id", LongType))), None, capacity = 4096, conf)._1)
    try {
      val confs = readers.map(r => field.get(r).asInstanceOf[Configuration])
      assert(confs.head eq confs(1))
      // the flags Spark's own initialize sets on its fresh copy
      Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
        SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach { e =>
        assert(!confs.head.getBoolean(e.key, true), e.key)
      }
      // and the readers read every row
      val ids = readers.flatMap { r =>
        val out = Seq.newBuilder[Long]
        while (r.nextKeyValue()) {
          val b = r.getCurrentValue.asInstanceOf[ColumnarBatch]
          (0 until b.numRows).foreach(i => out += b.column(0).getLong(i))
        }
        out.result()
      }
      assert(ids.sorted == (0L until 1000L))
    } finally readers.foreach(_.close())
  }

  test("the open helper reads on the caller's configuration") {
    val path = new Path(files(500L, 1).head)
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    assert(ParquetOpen.options(path, conf).build()
      .asInstanceOf[org.apache.parquet.HadoopReadOptions].getConf eq conf)
    assert(ParquetOpen.rowCount(path, conf) == 500L)
    assert(ParquetOpen.rowGroups(path, conf).map(_._2).sum == 500L)
  }
}
