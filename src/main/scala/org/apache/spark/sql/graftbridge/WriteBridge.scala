package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** Path-based DSv2 writes: `AppendData` over a catalog-free
  * `DataSourceV2Relation` (the plan `DataFrameWriterV2.append` builds),
  * run as a Dataset through `Dataset.ofRows`, which is `private[sql]` —
  * hence, like [[ColumnBridge]], this package.
  */
object WriteBridge {

  /** Append `df`'s rows to `table` by position, as one eagerly executed
    * write command.
    */
  def append(df: DataFrame, table: SupportsWrite): Unit =
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AppendData.byPosition(DataSourceV2Relation.create(table, None, None),
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan))

  /** `schema` with every field, nested ones included, nullable: what a
    * write-only table declares, so a frame of `schema`'s shape stays a
    * resolved append while the optimizer re-derives its nullability.
    */
  def nullable(schema: StructType): StructType = schema.asNullable
}
