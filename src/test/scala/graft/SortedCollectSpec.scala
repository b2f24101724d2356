package graft

import graft.functions.{SortedRunsBuf, SortedStructCollect}
import graft.pipeline.{Pipeline, SpanOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused checks for the single-exchange assemble: the sort-on-serialize
  * aggregate must reproduce `array_sort(collect_list(s))` bit-for-bit
  * (including duplicate sort keys, null fields and non-ASCII strings)
  * keyed on `offset` and keyed on the first field (the full-struct order),
  * and the skew-aware assemble plan must carry exactly ONE exchange.
  */
class SortedCollectSpec extends AnyFunSuite {
  import SortedCollectSpec.referenceAssemble

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  private def spanStruct(order: Seq[String]): Column = struct(order.map(col): _*)
  private val keyFirst = Seq("offset", "kind", "text", "media_ref")
  private val final4 = Seq("kind", "text", "media_ref", "offset")

  /** Both orders against their references, group by group: keyed on the
    * first field (the full-struct order) and keyed on `offset` in the final
    * span shape.
    */
  private def assertBothOrders(flat: DataFrame): Unit = {
    def rows(df: DataFrame) = df.orderBy("doc_id").collect().toSeq
    val full = rows(flat.groupBy(col("doc_id"))
      .agg(SortedStructCollect.sortedCollect(spanStruct(keyFirst), "offset").as("sorted")))
    val fullRef = rows(flat.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(spanStruct(keyFirst))).as("sorted")))
    val keyed = flat.groupBy(col("doc_id"))
      .agg(SortedStructCollect.sortedCollect(spanStruct(final4), "offset").as("spans"))
    val keyedRef = referenceAssemble(flat)
    assert(keyed.schema == keyedRef.schema)
    for ((got, want) <- Seq(full -> fullRef, rows(keyed) -> rows(keyedRef))) {
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"group ${w.get(0)}") }
    }
  }

  test("sorted_struct_collect == array_sort(collect_list) on adversarial rows") {
    import spark.implicits._
    // duplicate offsets (ties fall through to kind/text/media_ref), null
    // offsets and fields, non-ASCII text, empty strings, many groups (> the
    // 128-group ObjectHashAggregate fallback threshold), uneven group sizes
    val rows = (0 until 3000).map { i =>
      val g = i % 200
      val off = if (i % 19 == 0) None else Some((i / 7) % 25) // heavy duplication of the key
      (s"doc-$g", "k" + (i % 3), if (i % 11 == 0) "" else s"tëxt-${i % 13}-é",
        if (i % 17 == 0) null else s"m${i % 5}", off)
    }
    assertBothOrders(rows.toDF("doc_id", "kind", "text", "media_ref", "offset")
      .repartition(7)) // spans of one group spread over several partials
  }

  test("runs that arrive in order, reversed, or interleaved across 7 partials") {
    import spark.implicits._
    val n = 7000
    // parallelize slices the sequence contiguously: every group has rows in
    // each of the 7 partitions, in order, reversed, or with duplicate keys
    val rows = (0 until n).flatMap(i => Seq(
      ("in-order", "text", s"a$i", "", i),
      ("reversed", "text", s"b$i", "", n - i),
      ("interleaved", if (i % 2 == 0) "text" else "image", s"c${i % 3}", "", (i * 7919) % 50)))
    val flat = spark.sparkContext.parallelize(rows, 7).toDF("doc_id", "kind", "text", "media_ref", "offset")
    assert(flat.rdd.getNumPartitions == 7)
    assertBothOrders(flat)
    // and with each group in a single partial (no merge on the reduce side)
    assertBothOrders(spark.sparkContext.parallelize(rows.sortBy(_._1), 1)
      .toDF("doc_id", "kind", "text", "media_ref", "offset"))
  }

  test("empty group input yields empty array, null structs are skipped") {
    import spark.implicits._
    val flat = Seq(("a", Some(1)), ("a", None), ("b", None))
      .toDF("doc_id", "v")
      .select(col("doc_id"),
        when(col("v").isNotNull, struct(col("v").as("offset"))).as("s"))
    val got = flat.groupBy("doc_id").agg(SortedStructCollect.sortedCollect(col("s"), "offset").as("arr"))
      .orderBy("doc_id")
      .select(size(col("arr")))
      .as[Int].collect()
    assert(got.toSeq == Seq(1, 0))
  }

  test("a key that is not a field of the struct fails analysis") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("doc_id", "v").select(col("doc_id"), struct(col("v")).as("s"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.groupBy("doc_id").agg(SortedStructCollect.sortedCollect(col("s"), "offset")).schema)
    assert(e.getMessage.contains("key `offset` is not a field"), e.getMessage)
  }

  test("a run past the JVM array limit is an IllegalStateException naming the limit") {
    assert(SortedRunsBuf.blockSize(0, 0L) == 8)
    assert(SortedRunsBuf.blockSize(2, 48L) == 8 + 8 + 16 + 48)
    val e = intercept[IllegalStateException](SortedRunsBuf.blockSize(3, 3L << 30))
    assert(e.getMessage.contains("2147483632-byte array limit"), e.getMessage)
  }

  test("assembleSkewAware matches assemble and shuffles the payload once") {
    import spark.implicits._
    val docs = Pipeline.toDocsDF(Pipeline.extract(
      spark.createDataset((0L until 60L).map(i => graft.io.SyntheticDocs.generate(42, i).raw))))
    val flat = SpanOps.explodeSpans(docs)
    val ref = referenceAssemble(flat)
    val got = SpanOps.assembleSkewAware(flat)
    assert(got.schema == ref.schema)
    val a = ref.orderBy("doc_id").collect()
    val b = got.orderBy("doc_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // ONE exchange between the span source and the assembled output
    val p = got.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }
}

object SortedCollectSpec {
  /** The reference span assemble: `array_sort(collect_list(struct(offset,
    * kind, text, media_ref)))` per document, re-projected to the final
    * `(kind, text, media_ref, offset)` shape.
    */
  def referenceAssemble(flat: DataFrame): DataFrame =
    flat.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("sorted"))
      .select(col("doc_id"), transform(col("sorted"), s =>
        struct(s("kind").as("kind"), s("text").as("text"),
          s("media_ref").as("media_ref"), s("offset").as("offset"))).as("spans"))
}
