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

  /** SHA-256 of the sorted `id_a, id_b, score` lines. */
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

  /** Each labelled run's (pair count, digest), compared in one assert so a
    * mismatch prints every row.
    */
  private def assertPinned(runs: Seq[(String, () => org.apache.spark.sql.DataFrame)],
      expected: Seq[(String, Int, String)]): Unit = {
    val got = runs.map { case (label, run) =>
      val (n, h) = pairsDigest(run())
      (label, n, h)
    }
    assert(got == expected)
  }

  test("simhashPairs output is pinned at three hamming bounds, Long and String ids") {
    // the pin corpus carries token-less docs ("", "  "), which the zero-token
    // guard must keep out of every pair
    import spark.implicits._
    val corpus = pinCorpus(21)
    val longIds = corpus.toDF("doc_id", "text")
    val stringIds = corpus.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text")
    assertPinned(
      for (h <- Seq(3, 8, 20); (ids, df) <- Seq("long" -> longIds, "string" -> stringIds))
        yield (s"$ids h=$h", () => Dedup.simhashPairs(df, maxHamming = h)),
      Seq(
        ("long h=3", 38, "c5980cd90377148ac8392c9f86f12997db88de00831f5594f668dc887da06465"),
        ("string h=3", 38, "bbd9d80cab56a5e94bebe3cbe27df657eefe08d8265cbef5dcb6ffeef17beb52"),
        ("long h=8", 61, "8efceb916c59bbacb0a2f5ea86a4fbfff1f0c2cea8895b4e91efba84e8e0d702"),
        ("string h=8", 61, "dd154d33e4f4114dc837e96807f2852958a547650819f03420062a430d70bfab"),
        ("long h=20", 63, "843bb7d0b59f4353f62a281a56d363eea2191dd3ab4f9e4aaec758dcb495ce7d"),
        ("string h=20", 63, "43187e5cd7b86259bbb9c177cc18a71fbe6159d4f9003fbb2b73726feb5b9800")))
  }

  test("embeddingNearDups output is pinned with a hot bucket and a repeated id") {
    // 120 seeded 16-dim float vectors, 40 small perturbations of one vector
    // (they share one sign bucket at every plane count) and one id listed
    // twice with different vectors
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = vec()
    val hot = Seq.fill(40)(base.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val vecs = rnd.shuffle(Seq.fill(120)(vec()) ++ hot)
    val ids = Iterator.continually(rnd.nextInt(2000000).toLong - 1000000L).distinct
      .take(vecs.size).toSeq
    val rows = ids.zip(vecs) :+ (ids(7) -> vec())
    val df = rows.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    assertPinned(
      for ((t, p) <- Seq((0.2, 6), (0.5, 8), (0.9, 2)))
        yield (s"t=$t planes=$p", () => Dedup.embeddingNearDups(df, threshold = t, planes = p)),
      Seq(
        ("t=0.2 planes=6", 880, "f6b128efce9158da0c21f679687ba6dc7c2c62efcea285fc6db3e5affddc1317"),
        ("t=0.5 planes=8", 788, "4ad574e8afea36f3eff79fdd645866533f7c333735531e6a9a8a8484d9d44591"),
        ("t=0.9 planes=2", 780, "3933be71e172b4219bce4cc914e8bffcc345af065ffa858e7d76e270bc80facb")))
  }

  test("jaccardPairs output is pinned at three thresholds, with and without a df cap") {
    import spark.implicits._
    val df = pinCorpus(21).toDF("doc_id", "text")
    assertPinned(
      for (t <- Seq(0.3, 0.5, 0.8); cap <- Seq(0, 3))
        yield (s"t=$t cap=$cap", () => Dedup.jaccardPairs(df, t, maxDocFreq = cap)),
      Seq(
        ("t=0.3 cap=0", 108, "44000d5fe3e2d2ce8fdde4ee11ee3cd17a9f4d171670881c243e6de9ffd0f691"),
        ("t=0.3 cap=3", 79, "8ffbcdc2872b7addb45cc254395fa29209eac1062c01f747b403a89987ba4af3"),
        ("t=0.5 cap=0", 99, "367fce62cbaa35318f5e39b9004f74789ad18c8138b28335f100534a32403224"),
        ("t=0.5 cap=3", 57, "d5505b1e2d8dbecc25221a4c645e78e26ebf08d29be7b5e225cf5d0c198f922d"),
        ("t=0.8 cap=0", 50, "a655f6f840cc60bb3de08f92cbf0605478940fb60fd0c479e876dd2183161351"),
        ("t=0.8 cap=3", 44, "daf276a27a8d2df2aa0a384230e6d4b6d26072cb53efdabc3dc9bbdc97feb56b")))
  }
}
