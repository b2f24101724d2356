package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Cosine similarity between two float vectors, computed in double over
  * the shorter length and rounded to 6 decimals (matching the DuckDB
  * oracle's `round(list_cosine_similarity(a::DOUBLE[], b::DOUBLE[]), 6)`);
  * a zero norm gives 0. [[graft.ops.Similarity.cosine]] is its Column.
  *
  * One fused loop over the vectors — the HOF formulation
  * (`aggregate(zip_with(...))` × 3 for dot and both norms) walks the arrays
  * three times through interpreted lambda eval with per-element boxing.
  */
object CosineSim {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
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
}
