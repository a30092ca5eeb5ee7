package graft.jobs

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meta.{FileReference, GraftFS}
import graft.table.GraftTable

/** Row-key delete files: the distributed write half of
  * [[graft.table.GraftTable.deleteKeys]]. The input key set is
  * deduplicated, tagged with its leaf (the same codegen'd split-tree
  * expression ingest uses), and written as ONE SORTED key-only parquet
  * file per affected leaf — so the read side can apply it as a
  * streaming merge-anti-join against the leaf's (equally sorted) data,
  * O(1) memory, no shuffle, and compaction can purge it the same way.
  * A takedown of k keys costs one shuffle of k KEYS (not rows) at
  * write time and zero data IO until the next compaction touches the
  * leaf.
  */
object Tombstones {

  def write(table: GraftTable, keys: DataFrame,
      commit: Boolean = true): Seq[FileReference] = {
    val spark = table.spark
    val schema = table.schema
    val keyFields = schema.rowKeys
    keyFields.foreach { f =>
      val in = keys.schema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(s"delete-key input missing field ${f.name}"))
      require(org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
        in.dataType, f.dataType),
        s"field ${f.name}: input ${in.dataType.sql} != schema ${f.dataType.sql}")
    }
    val keyCols = keyFields.map(f => col(f.name))
    val tree = table.store.partitionTree
    val tagged = keys.select(keyCols: _*).dropDuplicates(keyFields.map(_.name))
      .withColumn("__gpart", tree.leafIdColumn)
    val sorted = tagged
      .repartition(math.max(tree.leaves.size, 1), col("__gpart"))
      .sortWithinPartitions(col("__gpart") +: keyCols: _*)

    val jobId = UUID.randomUUID().toString.take(8)
    val tmpDir = s"${table.dir}/.tombstone-$jobId"
    sorted.write.partitionBy("__gpart").parquet(tmpDir)

    val moved = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val (fs, _) = GraftFS.resolve(tmpDir)
    GraftFS.list(tmpDir).filter(_.isDirectory).foreach { partDir =>
      val pid = partDir.getPath.getName.stripPrefix("__gpart=")
      val destDir = new Path(s"${table.dataDir}/$pid")
      fs.mkdirs(destDir)
      fs.listStatus(partDir.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          val name = s"tombstone-$jobId-${UUID.randomUUID().toString.take(8)}.parquet"
          GraftFS.rename(f.getPath, new Path(destDir, name), fs)
          moved += pid -> s"${table.dataDir}/$pid/$name"
        }
    }
    GraftFS.deleteRecursive(tmpDir)
    if (moved.isEmpty) return Nil

    // key counts from parquet footers — no Spark job per file
    val refs = moved.map { case (pid, path) =>
      val cnt = graft.exec.ParquetOpen.rowCount(new Path(path),
        spark.sparkContext.hadoopConfiguration)
      FileReference(new Path(path).getName, pid, cnt)
    }.toSeq
    // write-only mode (MERGE INTO): the caller owns the commit
    if (commit) table.store.addTombstones(refs)
    refs
  }
}
