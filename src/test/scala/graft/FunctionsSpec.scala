package graft

import graft.functions.GraftExtensions
import graft.ops.{Dedup, Similarity}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  test("native cosine matches the HOF formulation bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f, 2.0f), Seq(0.5f, 1.0f, -1.0f)),
      (Seq(0.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(3.0f), Seq(3.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    // HOF reference with nullif guard (ANSI division; filters may reorder)
    val denom = sqrt(aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)) *
      sqrt(aggregate(transform(col("b"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x))
    val hof = df.select(round(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x) / nullif(denom, lit(0.0)), 6))
      .as[java.lang.Double].collect()
    assert(got(0) == hof(0) && got(2) == hof(2))
    assert(hof(1) == null)
    assert(got(1) == 0.0) // zero-norm guard
  }

  test("vector kernels take array<float> only: array<double> fails analysis, null gives null") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Option(Seq(1.0f, 2.0f))), (Seq(3.0), None)).toDF("d", "f")
    val bucket = graft.functions.PortableHyperplaneBucket.portableHyperplaneBucket _
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(Similarity.cosine(col("d"), col("f"))))
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(Similarity.cosine(col("f"), col("d"))))
    intercept[org.apache.spark.sql.AnalysisException](df.select(bucket(col("d"), 4)))
    val rows = df.select(Similarity.cosine(col("f"), col("f")), bucket(col("f"), 4)).collect()
    assert(rows(0).getDouble(0) == 1.0 && !rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("simhash: identical text → identical hash; small edit → small hamming") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val edited = base.replace("lazy", "sleepy")
    val other = "completely different content about spark catalyst expressions " * 4
    val df = Seq(base, base, edited, other).toDF("text")
      .select(Dedup.simhash(col("text")).as("h")).as[Long].collect()
    assert(df(0) == df(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(df(0), df(2)) <= 12, s"edit hamming ${ham(df(0), df(2))}")
    assert(ham(df(0), df(3)) > 12, s"different hamming ${ham(df(0), df(3))}")
  }

  test("minhash signature approximates Jaccard") {
    import spark.implicits._
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val b = (1 to 48).map(i => s"tok$i").mkString(" ") + " " +
      (100 to 111).map(i => s"tok$i").mkString(" ")
    val sigs = Seq(a, b).toDF("text")
      .select(Dedup.minhashSignature(col("text"), k = 128, shingleN = 1).as("sig"))
      .as[Seq[Long]].collect()
    val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y } / 128.0
    // true Jaccard = 48 / 72 = 0.667
    assert(math.abs(est - 0.667) < 0.15, s"estimate $est")
  }

  test("empty input edge cases") {
    import spark.implicits._
    val df = Seq("", "   ", "one").toDF("text")
    val sigs = df.select(Dedup.minhashSignature(col("text"), 8, 3).as("s"))
      .as[Seq[Long]].collect()
    assert(sigs(0).forall(_ == -1L) && sigs(1).forall(_ == -1L) && sigs(2).forall(_ == -1L))
    val sh = df.select(Dedup.simhash(col("text"))).as[Long].collect()
    assert(sh(0) == 0L)
  }

  test("SQL surface: functions callable after registration") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq(("a b c a b c", Seq(1.0f, 2.0f))).toDF("t", "v").createOrReplaceTempView("fx")
    val row = spark.sql(
      """SELECT portable_simhash60(md5_shingle_h60(t, 1, 0)) AS sh,
        |       size(portable_minhash_sig(md5_shingle_h60(t, 2, 0), 16)) AS k,
        |       cosine_sim(v, v) AS c,
        |       portable_hyperplane_bucket(v, 4) AS b
        |FROM fx""".stripMargin).collect().head
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Int]("k") == 16)
    assert(row.getAs[Double]("c") == 1.0)
    assert(row.getAs[Long]("b") >= 0L && row.getAs[Long]("b") < 16L)
  }

  test("extension injection covers the same registry as post-hoc register") {
    // NB: builder().withExtensions(...).getOrCreate() in this JVM would
    // silently return the suite's existing session with extensions
    // unapplied, so exercise the injection entry point directly — both
    // paths iterate GraftExtensions.registry, which is asserted complete
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
    assert(graft.functions.GraftExtensions.registry.map(_._1).toSet ==
      Set("cosine_sim", "md5_shingle_h60", "portable_minhash_sig", "portable_simhash60",
        "portable_hyperplane_bucket"))
    // every builder yields a type-checking expression for a valid arg shape
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val arrF = Literal.create(Array(1.0f), ArrayType(FloatType))
    val arrL = Literal.create(Array(1L), ArrayType(LongType))
    val str = Literal.create("a b c", StringType)
    val k = Literal.create(4, IntegerType)
    val byName = graft.functions.GraftExtensions.registry.toMap
    assert(byName("cosine_sim")(Seq(arrF, arrF)).checkInputDataTypes().isSuccess)
    assert(byName("md5_shingle_h60")(Seq(str, k)).checkInputDataTypes().isSuccess)
    assert(byName("portable_minhash_sig")(Seq(arrL, k)).checkInputDataTypes().isSuccess)
    assert(byName("portable_simhash60")(Seq(arrL)).checkInputDataTypes().isSuccess)
    assert(byName("portable_hyperplane_bucket")(Seq(arrF, k)).checkInputDataTypes().isSuccess)
  }
}
