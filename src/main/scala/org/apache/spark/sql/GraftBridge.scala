package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/** Package-private accessors for Column ↔ Expression conversion (Spark 4
  * moved `Column.expr` behind `private[sql]`), for exact input types, and
  * for the session state a driver-side file writer needs; the standard
  * extension-library bridge pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `t` as an expected input type that analysis never casts into: it
    * accepts `t` up to nullability and nothing else, so a mismatched
    * argument fails the type check. Given `t` itself, ANSI coercion
    * store-assigns instead (it narrows `array<double>` to `array<float>`).
    * Coercion only casts into a `defaultConcreteType` the argument can be
    * stored as, and only a null literal can be stored as `NullType`.
    */
  def exactType(t: DataType): AbstractDataType = ExactType(t)

  private final case class ExactType(t: DataType) extends AbstractDataType {
    override def defaultConcreteType: DataType = NullType
    override def acceptsType(other: DataType): Boolean = t.sameType(other)
    override def simpleString: String = t.simpleString
  }

  /** The session's SQL conf and a fresh Hadoop conf carrying its options. */
  def sessionConfs(spark: SparkSession): (SQLConf, Configuration) = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    (state.conf, state.newHadoopConf())
  }
}
