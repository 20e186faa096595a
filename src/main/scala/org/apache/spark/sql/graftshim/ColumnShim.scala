package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to Spark 4's `private[sql]` Column↔Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`) and catalyst-row
  * DataFrame construction. Lives in an `org.apache.spark.sql`
  * subpackage purely to satisfy the access qualifier — the standard
  * pattern for Catalyst extension libraries.
  */
object ColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame of `schema` over catalyst rows (classic
    * `SparkSession.internalCreateDataFrame`): the rows reach the plan
    * as they are, with no Row encoder converting them.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
