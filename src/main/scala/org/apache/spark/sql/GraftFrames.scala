package org.apache.spark.sql

/** A DataFrame that reads a DataSource V2 `Table` object (no catalog, no
  * provider lookup). Spark keeps `Dataset.ofRows` `private[sql]`, so graft
  * reaches it from this package. */
object GraftFrames {
  def ofTable(spark: SparkSession, table: connector.catalog.Table): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark),
      execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
}
