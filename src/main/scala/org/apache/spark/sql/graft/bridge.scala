package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[sql] Column <-> Expression conversions.
  * Spark 4 hid the Expression-backed Column constructor behind the
  * classic/ColumnNode split; custom Catalyst expressions still need it.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register expression builders into a live session's function
    * registry (the same triples SparkSessionExtensions.injectFunction
    * takes) — sessionState is private[sql], hence the bridge.
    */
  def registerFunctions(spark: SparkSession,
      fns: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }

  /** A DataFrame over an RDD of InternalRow without a row-conversion pass
    * (the private internalCreateDataFrame); used to hand the sorted-merge
    * compaction stream straight to the parquet writer.
    */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A DataFrame over a DSv2 table instance the caller already holds
    * (the private Dataset.ofRows), so a read can carry state that the
    * path-based `spark.read.format(...).load(...)` would have to reload.
    */
  def relationDataFrame(spark: SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None,
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))

  /** A DataFrame over rows already read on the driver (a LocalRelation
    * of copied InternalRows matching `schema`): projections and filters
    * above it fold into the relation, so `collect()` runs no job.
    */
  def localRelationDataFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
}
