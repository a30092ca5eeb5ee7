package graft.query

import org.apache.spark.sql.DataFrame
import graft.core.Region

/** A query against a graft table: a list of key regions (ORed), an
  * optional value-field projection, an optional query-time transform, and
  * an optional SELECT-only SQL post-stage over the results
  * (reference: Query.java:30-34, QueryProcessingConfig.java:29-37,
  * rust/query_sql).
  */
final case class GraftQuery(
    regions: Seq[Region] = Nil,
    requestedValueFields: Option[Seq[String]] = None,
    queryTimeTransform: Option[DataFrame => DataFrame] = None,
    /** config-string transform (X1), e.g.
      * "graft.transforms.SecurityFilter{vis,public}" — the reference's
      * queryTimeIteratorClassName/Config JSON fields */
    queryTransformConfig: Option[String] = None,
    postSql: Option[String] = None)

object GraftQuery {
  val all: GraftQuery = GraftQuery()
  def forRegions(regions: Region*): GraftQuery = GraftQuery(regions = regions)

  /** Parse the reference's query JSON interchange form (see QuerySerDe). */
  def fromJson(json: String, schema: graft.core.GraftSchema): GraftQuery =
    QuerySerDe.fromJson(json, schema)

  /** Point-lookup sugar: one exact-key region per key, each key giving
    * row-key values in schema order (reference: the "keys" query JSON
    * form, example/query/sampleExactQueryInt.json, Query.java:30-34).
    */
  def forKeys(schema: graft.core.GraftSchema, keys: Seq[Any]*): GraftQuery = {
    require(keys.nonEmpty, "at least one key")
    GraftQuery(regions = keys.map { k =>
      require(k.size == schema.rowKeys.size,
        s"key $k must give a value per row-key dimension (${schema.rowKeyNames.mkString(",")})")
      Region(schema.rowKeys.zip(k).map { case (f, v) => graft.core.KeyRange.exact(f.name, v) })
    })
  }
}
