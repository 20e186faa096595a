package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Bridge to Spark 4's `private[sql]` Column↔Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`) and catalyst-row
  * DataFrame construction, and to the block manager's `private[spark]`
  * block locations. Lives in an `org.apache.spark.sql` subpackage
  * purely to satisfy the access qualifiers — the standard pattern for
  * Catalyst extension libraries.
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

  /** How many of a persisted `rdd`'s partitions have a stored block,
    * asked of the block manager master directly. The master records a
    * block before the task that stored it finishes, so after a job over
    * `rdd` this count is exact; `SparkContext.getRDDStorageInfo` reads
    * the status store instead, which the listener bus updates later and
    * at a throttled rate.
    */
  def cachedPartitions(rdd: RDD[_]): Int = {
    val ids = Array.tabulate[BlockId](rdd.getNumPartitions)(RDDBlockId(rdd.id, _))
    SparkEnv.get.blockManager.master.getLocations(ids).count(_.nonEmpty)
  }
}
