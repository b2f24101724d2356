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

  /** Seeded near-duplicate corpus: 40-word docs over a 300-word vocabulary
    * with planted chains of 4 (2 substitutions per step), exact triples
    * (one member upper-cased with trailing punctuation, equal after
    * normalization), near triples (1 substitution each), unique docs and
    * docs under 3 words, in shuffled order under distinct random ids.
    */
  private def pinCorpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(300)(i => s"w$i" + rnd.alphanumeric.take(3).mkString.toLowerCase)
    def fresh(): Array[String] = Array.fill(40)(vocab(rnd.nextInt(vocab.length)))
    def edit(w: Array[String], k: Int): Array[String] = {
      val c = w.clone()
      for (_ <- 0 until k) c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.length))
      c
    }
    val chains = Seq.fill(10)(Iterator.iterate(fresh())(edit(_, 2)).take(4).map(_.mkString(" ")).toSeq)
    val exact = Seq.fill(8) {
      val t = fresh().mkString(" ")
      Seq(t, t, t.toUpperCase + "!")
    }
    val near = Seq.fill(8) {
      val w = fresh()
      Seq(w, edit(w, 1), edit(w, 1)).map(_.mkString(" "))
    }
    val unique = Seq.fill(60)(fresh().mkString(" "))
    val short = Seq("", "one", "two words", "Hi!", "two words", "  ", "a b", "x")
    val texts = rnd.shuffle(chains.flatten ++ exact.flatten ++ near.flatten ++ unique ++ short)
    val ids = Iterator.continually(rnd.nextInt(2000000).toLong - 1000000L).distinct
    ids.take(texts.size).toSeq.zip(texts)
  }

  /** SHA-256 of the sorted `id_a, id_b, jaccard` lines. */
  private def pairsDigest(df: org.apache.spark.sql.DataFrame): (Int, String) = {
    val lines = df.collect().map(r => s"${r.get(0)}\t${r.get(1)}\t${r.get(2)}").sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (lines.length, md.digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)
  }

  test("minhashPairs output is pinned for Long and String ids") {
    // recorded before the one-shingle-pass rewrite of minhashPairs; the
    // pair set, its ids and every jaccard value must not move
    import spark.implicits._
    val corpus = pinCorpus(14)
    val longIds = corpus.toDF("doc_id", "text")
    val stringIds = corpus.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text")
    val (nLong, hLong) = pairsDigest(Dedup.minhashPairs(longIds))
    val (nString, hString) = pairsDigest(Dedup.minhashPairs(stringIds))
    assert((nLong, hLong) == (79, "86d8fb1a36678b8cce4c0cd79f49e33e9dd7cf48ff3a524f87aae353936c062b"))
    assert((nString, hString) == (79, "fdb6cdd45a121a46a0c4e6e4799a429977a86c2ae3660e2a9494108b63a84c6b"))
  }
}
