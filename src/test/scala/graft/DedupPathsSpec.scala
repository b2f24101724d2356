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

  /** Seeded texts for the kernel pins: words from a small vocabulary (some
    * multi-byte) separated by runs of every whitespace byte the native
    * tokenizer splits on, `\u000b` and `\f` included, with leading and
    * trailing runs; docs of 150-250 words pass the 128-token cap; a null,
    * empty and whitespace-only rows.
    */
  private def kernelTexts(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(40)(i => if (i % 7 == 0) s"wü$i" else s"w$i")
    val seps = Array(" ", "\t", "\n", "\r", "\u000b", "\f", "  ", "\u000b\f", " \f\u000b\t")
    def sep() = seps(rnd.nextInt(seps.length))
    def doc(n: Int) = {
      val b = new StringBuilder
      if (rnd.nextBoolean()) b ++= sep()
      for (i <- 0 until n) {
        if (i > 0) b ++= sep()
        b ++= vocab(rnd.nextInt(vocab.length))
      }
      if (rnd.nextBoolean()) b ++= sep()
      b.toString
    }
    Seq(null, "", "   ", "\u000b\f\u000b", "one", "two words", "\fthree\u000bword\fdoc\u000b") ++
      Seq.fill(40)(doc(rnd.nextInt(14))) ++ Seq.fill(8)(doc(150 + rnd.nextInt(100)))
  }

  // The three kernel pins below were recorded while each kernel was still a
  // hand-written Catalyst expression; the rows must not move under any
  // rewrite of how the kernels are invoked
  test("shingle, MinHash and SimHash kernels are pinned") {
    import graft.functions.{Md5ShingleH60, PortableMinHashSig}
    import spark.implicits._
    val df = kernelTexts(25).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def arr(label: String, c: org.apache.spark.sql.Column) =
      (label, () => df.select(col("id"), size(c), c))
    assertPinned(
      (for (n <- Seq(1, 3); m <- Seq(0, 128))
        yield arr(s"shingle n=$n max=$m", Md5ShingleH60.md5ShingleH60(col("text"), n, m))) ++
      (for (k <- Seq(32, 128))
        yield arr(s"minhash k=$k", PortableMinHashSig.portableMinhashSig(
          Md5ShingleH60.md5ShingleH60(col("text"), 3), k))) :+
      ("simhash", () => df.select(col("id"), lit("simhash"), Dedup.simhash(col("text")))),
      Seq(
        ("shingle n=1 max=0", 55, "dc023928f6ca726949df74796e934013ce4bb892406c27a60cc9a4da2b7436f6"),
        ("shingle n=1 max=128", 55, "6c7deb51151b7eae1d4af426c9c49b0166d3fb4831c1cbcfa1b7984deb5b9450"),
        ("shingle n=3 max=0", 55, "19b8c98f7c1d2be348a7b6fa4b57c05bd2cb2ae77a9c3e948d0f8a39b9322620"),
        ("shingle n=3 max=128", 55, "e5c2f6fb0addae23388799761a9349b7382c9a8375a3ac0e1fd58fc316ae7fae"),
        ("minhash k=32", 55, "0e17d154433f419aeea22b393687beff9211f4acfa27728eb66255085122c6d6"),
        ("minhash k=128", 55, "e2b3a746c96d3affcb19e6e5d6275b766ba8f0a2515de27ce62e645125321b4c"),
        ("simhash", 55, "c2ad4944ee4d96166cfca2477450f9ae55eb4237236ee0b18483c14826632107")))
  }

  /** Seeded Gaussian float vectors, 16-dim unless `dim` says otherwise. */
  private def gaussVecs(rnd: scala.util.Random, n: Int, dim: Int = 16): Seq[Seq[Float]] =
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian().toFloat))

  test("hyperplane bucket and cosine kernels are pinned") {
    import graft.functions.PortableHyperplaneBucket
    import graft.ops.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(25)
    val vs = gaussVecs(rnd, 60)
    val zero = Seq.fill(16)(0.0f)
    val buckets = ((vs :+ zero :+ Seq(1.0f, -2.0f, 0.5f)).map(Option(_)) :+ None)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val pairs = (vs.zip(gaussVecs(rnd, 60)).map { case (a, b) => (Option(a), Option(b)) } ++ Seq(
      (Some(zero), Some(vs(0))), (Some(zero), Some(zero)), (Some(vs(1)), Some(vs(1))),
      (Some(vs(2)), Some(vs(3).take(10))), (Some(vs(4).take(5)), Some(vs(2))),
      (None, Some(vs(5))), (Some(vs(6)), None)))
      .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    assertPinned(
      (for (p <- Seq(2, 6, 8)) yield (s"hyperplane planes=$p", () =>
        buckets.select(col("id"), lit(p),
          PortableHyperplaneBucket.portableHyperplaneBucket(col("v"), p)))) :+
      ("cosine", () => pairs.select(col("id"), size(col("b")),
        Similarity.cosine(col("a"), col("b")))),
      Seq(
        ("hyperplane planes=2", 63, "c666f7bf8f7fa1978548f62061fc03dceca3ea672ec452aab847ce5f78d9a7b3"),
        ("hyperplane planes=6", 63, "0ca722fe9cda2a36b032a95147f50ba908ef382b84e0ce7958027ceddcbf8906"),
        ("hyperplane planes=8", 63, "8a757ae6471b5f83affa437dc0d4d9771a2bb805dd1ee991308778de136c052b"),
        ("cosine", 67, "e32ec8e4d7b44e0e3977f0b05c1cc616bb98df4813e8238757a5909c497b567b")))
  }

  test("IVF cells and ANN rankings are pinned") {
    import graft.ops.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(26)
    val corpus = gaussVecs(rnd, 200).zipWithIndex
      .map { case (v, i) => (i.toLong * 7 - 300L, v) }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 5 === 0)
    def ranked(df: org.apache.spark.sql.DataFrame) = df.select(col("query_id"),
      concat_ws(" ", col("rank").cast("string"), col("corpus_id").cast("string")), col("cosine"))
    assertPinned(
      (for (n <- Seq(4, 8, 16)) yield (s"ivf cells=$n", () =>
        Similarity.ivfIndex(corpus, n).index.select(col("corpus_id"), lit(n), col("cell_id")))) ++
      Seq(
        ("brute k=5", () => ranked(Similarity.bruteForceTopK(corpus, queries, k = 5))),
        ("ivf k=5 cells=8 probe=2", () =>
          ranked(Similarity.ivfTopK(corpus, queries, k = 5, nCells = 8, nProbe = 2))),
        ("ivf k=5 cells=16 probe=4", () =>
          ranked(Similarity.ivfTopK(corpus, queries, k = 5, nCells = 16, nProbe = 4)))),
      Seq(
        ("ivf cells=4", 200, "0cf823b2f32a3ae6439aaa588c823965314e4bdc0416527788c0effc365b7f29"),
        ("ivf cells=8", 200, "4b20117dcbc89c1ffd7d2adafc149a64173e630bc115ce1677c9d1fc72105d18"),
        ("ivf cells=16", 200, "90e83fb921bdf776a35ea526e34f1d76a4046df2117553eea6363af093695a53"),
        ("brute k=5", 200, "788f4aa369e150290d17dd06aa6b0df7f65fd23e346536dc65a8039c55ab6acd"),
        ("ivf k=5 cells=8 probe=2", 200, "de389e826a2be59b864ac6cf8992095b6c615736e35b4af7bb205fd6d23862a6"),
        ("ivf k=5 cells=16 probe=4", 200, "7416ea2ef101018415a01c7090ebdc9f0dcf7fc608dbb0850853e80c05922fa6")))
  }
}
