package graft

import graft.ops.Dedup
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** jaccardPairs (PPJoin prefix + positional + verify) must equal the naive
  * all-pairs computation exactly at every threshold: the prefix, positional
  * and length filters are lossless for the threshold by construction.
  */
class DedupPathsSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-dedup-paths")

  private lazy val docs = {
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "pack my box with five dozen liquor jugs before the evening train leaves",
      "sphinx of black quartz judge my vow under the ancient temple walls")
    (0L until 60L).map { i =>
      val b = base((i % 3).toInt)
      // thirds: exact-ish duplicates, light edits, heavy edits
      val text = (i % 5) match {
        case 0 => b
        case 1 => b + " extra tail words appended here"
        case 2 => b.replace("the", "a")
        case 3 => s"totally different content number $i with its own unique words $i"
        case _ => b.split(" ").drop(3).mkString(" ")
      }
      (i, text)
    }.toDF("doc_id", "text")
  }

  /** Naive exact jaccard over ALL pairs (no filters) — the ground truth. */
  private def naive(threshold: Double): Set[(Long, Long, Double)] = {
    val sh = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def got(threshold: Double): Set[(Long, Long, Double)] =
    Dedup.jaccardPairs(docs, threshold, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("production path (PPJoin prefix + positional + verify) equals naive, low t included") {
    for (t <- Seq(0.05, 0.18, 0.3, 0.5, 0.7, 0.9)) assert(got(t) == naive(t), s"t=$t")
  }

  test("integer-boundary thresholds don't lose pairs to fp ceiling") {
    // identical docs (J = 1.0) at t = 1.0: prefix length 1 must still collide
    import spark.implicits._
    val dup = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(dup, 1.0, shingleN = 3).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }
}
