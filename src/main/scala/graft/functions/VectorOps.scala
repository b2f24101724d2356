package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two float/double
  * arrays, computed in double, rounded to 6 decimals (matching the DuckDB
  * oracle's `round(list_cosine_similarity(a::DOUBLE[], b::DOUBLE[]), 6)`).
  *
  * One fused loop over the vectors with `doGenCode` — the HOF formulation
  * (`aggregate(zip_with(...))` × 3 for dot and both norms) walks the arrays
  * three times through interpreted lambda eval with per-element boxing.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"CosineSim needs array<float|double>, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.compute(l.asInstanceOf[ArrayData], isFloat(left),
      r.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.CosineSim.compute($l, ${isFloat(left)}, $r, ${isFloat(right)});")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    val c = if (denom == 0.0) 0.0 else dot / denom
    // round half-up to 6 decimals, matching round(col, 6)
    java.math.BigDecimal.valueOf(c).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))
}
