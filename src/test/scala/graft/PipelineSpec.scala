package graft

import graft.io.{SyntheticDocs, TableIO}
import graft.model._
import graft.pipeline.{Pipeline, Resume, SpanOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")
  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("extract reproduces the expected span stream for every payload kind") {
    import spark.implicits._
    val gens = (0L until 400L).map(i => SyntheticDocs.generate(seed = 7, i))
    val kinds = gens.map(_.raw.payload_kind).toSet
    assert(kinds == SyntheticDocs.PayloadKinds.toSet, s"kinds covered: $kinds")

    val raw = spark.createDataset(gens.map(_.raw))
    val out = Pipeline.extract(raw, repartitionTo = 8).collect()
    assert(out.forall(_.failure.isEmpty), out.filter(_.failure.nonEmpty).take(3).mkString("; "))

    val expected = gens.map(g => g.raw.doc_id -> g.expected).toMap
    val byId = out.map(o => o.doc_id -> o.spans).toMap
    assert(byId.keySet == expected.keySet)
    // span-sequence equality (kind, text, media_ref, order) — the invariant
    expected.foreach { case (id, exp) =>
      assert(byId(id) == exp, s"doc $id mismatch")
    }
  }

  test("extraction is deterministic under different parallelism") {
    import spark.implicits._
    val gens = (0L until 100L).map(i => SyntheticDocs.generate(seed = 11, i))
    val raw = spark.createDataset(gens.map(_.raw))
    val a = Pipeline.extract(raw.repartition(1)).collect().map(o => o.doc_id -> o.spans).toMap
    val b = Pipeline.extract(raw.repartition(13)).collect().map(o => o.doc_id -> o.spans).toMap
    assert(a == b)
  }

  test("explode → assemble round-trips the nested spans (plain and skew-aware)") {
    import spark.implicits._
    val gens = (0L until 120L).map(i => SyntheticDocs.generate(seed = 3, i))
    val docs = spark.createDataset(gens.map(g => Doc(g.raw.doc_id, g.expected))).toDF()
    val flat = SpanOps.explodeSpans(docs)
    for (assembled <- Seq(SortedCollectSpec.referenceAssemble(flat), SpanOps.assembleSkewAware(flat))) {
      val got = assembled.select("doc_id", "spans").as[(String, Seq[Span])]
        .collect().toMap
      val exp = gens.map(g => g.raw.doc_id -> g.expected).toMap
      assert(got == exp)
    }
  }

  test("renumberPageBreaks rewrites out-of-order next_page payloads 1..N") {
    import spark.implicits._
    val spans = Seq(
      Span("page_break", """{"next_page":7}""", "", 0),
      Span("text", "a", "", 1),
      Span("page_break", """{"next_page":9}""", "", 2),
      Span("text", "b", "", 3))
    val docs = spark.createDataset(Seq(Doc("d1", spans))).toDF()
    val out = SpanOps.renumberPageBreaks(SpanOps.explodeSpans(docs))
      .filter(col("kind") === "page_break").orderBy("offset")
      .select("text").as[String].collect()
    assert(out.toSeq == Seq("""{"next_page":1}""", """{"next_page":2}"""))
  }

  test("filterPages keeps only spans on the requested pages") {
    import spark.implicits._
    val spans = Seq(
      Span("page_break", """{"next_page":1}""", "", 0),
      Span("text", "p1", "", 1),
      Span("page_break", """{"next_page":2}""", "", 2),
      Span("text", "p2", "", 3),
      Span("page_break", """{"next_page":3}""", "", 4),
      Span("text", "p3", "", 5))
    val docs = spark.createDataset(Seq(Doc("d1", spans))).toDF()
    val flat = SpanOps.explodeSpans(docs)
    val kept = SpanOps.filterPages(flat, Set(2)).select("text").as[String].collect().toSet
    assert(kept == Set("""{"next_page":2}""", "p2"))
    val counts = SpanOps.pageCounts(flat).select("page_count").as[Long].collect()
    assert(counts.toSeq == Seq(3L))
  }

  test("lineage rows account for every doc, span and failure") {
    import spark.implicits._
    val gens = (0L until 50L).map(i => SyntheticDocs.generate(seed = 5, i))
    val bad = RawDoc("doc-bad", "nonexistent_dialect", "x", "", Nil, Nil)
    val raw = spark.createDataset(gens.map(_.raw) :+ bad)
    val out = Pipeline.extract(raw, repartitionTo = 4).cache()
    val rows = Pipeline.lineage(out, snapshotId = 42L).collect()
    assert(rows.map(_.doc_count).sum == 50L)
    assert(rows.map(_.span_count).sum == gens.map(_.expected.size).sum.toLong)
    assert(rows.flatMap(_.failures).length == 1)
    assert(rows.forall(_.snapshot_id == 42L))
    // one partition mixing successes with more failures than the sample
    // keeps: the sample holds only non-empty messages and stops at the cap
    val manyBad = (0 until LineageRow.MaxFailureSample + 20)
      .map(i => bad.copy(doc_id = s"doc-bad-$i"))
    val mixed = Pipeline.extract(spark.createDataset(gens.map(_.raw) ++ manyBad)).coalesce(1)
    val one = Pipeline.lineage(mixed, snapshotId = 7L).collect()
    assert(one.length == 1)
    assert(one.head.doc_count == 50L)
    assert(one.head.failure_count == LineageRow.MaxFailureSample + 20L)
    assert(one.head.failures.length == LineageRow.MaxFailureSample)
    assert(one.head.failures.forall(_.nonEmpty))
    out.unpersist()
  }

  test("TableIO: commits are atomic snapshots with time travel") {
    import spark.implicits._
    val dir = tmpDir("graft-table")
    val s0 = TableIO.commit(Seq(("a", 1), ("b", 2)).toDF("doc_id", "v"), dir)
    val s1 = TableIO.commit(Seq(("c", 3)).toDF("doc_id", "v"), dir)
    assert(s0.snapshotId == 0 && s1.snapshotId == 1 && s1.parentId == 0)
    assert(TableIO.read(spark, dir).get.count() == 3)
    assert(TableIO.readAsOf(spark, dir, 0).get.count() == 2)
    assert(TableIO.currentSnapshot(dir).get.rowCount == 3)
  }

  test("resume: kill/rerun completes idempotently via snapshot anti-join") {
    import spark.implicits._
    val dir = tmpDir("graft-out")
    val gens = (0L until 60L).map(i => SyntheticDocs.generate(seed = 13, i))
    val raw = spark.createDataset(gens.map(_.raw)).cache()

    // run 1 "crashes" after committing the first 25 docs
    val firstHalf = raw.filter(col("doc_id") < "doc-000000000025")
    TableIO.commit(Pipeline.toDocs(Pipeline.extract(firstHalf)).toDF(), dir)
    assert(TableIO.read(spark, dir).get.count() == 25)

    // run 2 resumes: anti-join filters the committed half
    val processed = Resume.processedIds(spark, dir).get
    val remaining = Resume.filterProcessed(raw.toDF(), processed)
    assert(remaining.count() == 35)
    TableIO.commit(Pipeline.toDocs(Pipeline.extract(remaining.as[RawDoc])).toDF(), dir)

    val finalTable = TableIO.read(spark, dir).get
    assert(finalTable.count() == 60)
    assert(finalTable.select("doc_id").distinct().count() == 60)

    // run 3 is a no-op: everything already processed
    val processed3 = Resume.processedIds(spark, dir).get
    assert(Resume.filterProcessed(raw.toDF(), processed3).count() == 0)
    raw.unpersist()
  }
}
