package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All operator queries, each with an optional DuckDB oracle. */
  def allDefs: Map[String, QueryDef] =
    Relational.defs ++ Superset.defs ++ EngineQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ LifecycleQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs("j1_join_agg").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * runs on the session it is given: reduce stages start at the
    * caller's `spark.sql.shuffle.partitions` and Spark's adaptive
    * execution coalesces them from the map output it observes. Builds
    * that register catalogs, temp views or table confs do so on that
    * session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, d) => name -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
