package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** Package-private accessors for Column ↔ Expression conversion (Spark 4
  * moved `Column.expr` behind `private[sql]`) and for the session state a
  * driver-side file writer needs; the standard extension-library bridge
  * pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's SQL conf and a fresh Hadoop conf carrying its options. */
  def sessionConfs(spark: SparkSession): (SQLConf, Configuration) = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    (state.conf, state.newHadoopConf())
  }
}
