package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters. Lives in an
  * `org.apache.spark.sql` subpackage solely to satisfy the access modifier —
  * the only sanctioned way for an external library to wrap a custom Catalyst
  * `Expression` as a user-facing `Column` in Spark 4.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is likewise `private[sql]`: the sanctioned way to turn
    * a hand-built `LogicalPlan` (e.g. a by-name `Union`) into a DataFrame.
    */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `SparkSession.internalCreateDataFrame` is likewise `private[sql]`: the
    * sanctioned way to rebuild a DataFrame from an `RDD[InternalRow]`
    * WITHOUT the external-Row round trip (`df.rdd` deserializes every field
    * to Scala objects and `createDataFrame` re-encodes them — pure overhead
    * when the rows never leave Tungsten format, e.g. a row-index append).
    */
  def internalDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The session's SQL parser without analysis (`sessionState` is
    * `private[sql]`): needed when a hand-built plan must be grafted into a
    * parsed-but-unresolved tree before the analyzer runs.
    */
  def parsePlan(spark: org.apache.spark.sql.SparkSession, sqlText: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sqlText)

  /** `RDD.doCheckpoint` is `private[spark]`: for a checkpoint-marked RDD it
    * stores the partitions the block manager still lacks (one job, none
    * when every partition is stored) and cuts the lineage
    * ([[graft.operators.Materialize.by]]).
    */
  def completeCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit = rdd.doCheckpoint()
}
