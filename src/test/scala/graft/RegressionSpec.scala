package graft

import graft.chunk.Chunkers
import graft.extract.{HtmlExtract, Normalize}
import graft.io.{SyntheticDocs, TableIO}
import graft.md.Markdown
import graft.model.{Doc, Span, SpanKind}
import graft.pipeline.{Pipeline, Runner}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regressions for the round-1 review findings. */
class RegressionSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("datalab: consecutive page markers (empty page) and trailing marker both rewrite") {
    val raw = "{0}------------\n\n{1}------------\n\npage two text\n\n{2}------------"
    val spans = Normalize.datalab(raw, Nil).spans
    val pages = spans.filter(_.kind == SpanKind.PageBreak)
      .map(s => Markdown.extractNextPage(s.text))
    assert(pages == Seq(1, 2, 3), s"got $pages from $spans")
    assert(!spans.exists(s => s.text.contains("------")))
  }

  test("simhashPairs: token-less docs do not flood the band join") {
    import spark.implicits._
    val docs = (1 to 30).map(i => (i.toLong, "... !!! ???")) :+ (99L, "real words here")
    val out = graft.ops.Dedup.simhashPairs(docs.toDF("doc_id", "text"))
    assert(out.count() == 0)
  }

  test("chunker rejects degenerate overlap >= max size instead of spinning") {
    val doc = Doc("d", Seq(Span(SpanKind.Text, "word " * 100, "", 0)))
    intercept[IllegalArgumentException] {
      Chunkers.markdownChunks(doc, maxChunkSize = 100, chunkOverlap = 100)
    }
  }

  test("empty document produces zero chunks (reference splitlines semantics)") {
    assert(Chunkers.splitByHeaders("") == Nil)
    assert(Chunkers.markdownChunks(Doc("d", Nil)) == Nil)
  }

  test("TableIO: a crash between data write and manifest does not wedge the table") {
    import spark.implicits._
    val dir = tmp("orphan-table")
    TableIO.commit(Seq(("a", 1)).toDF("doc_id", "v"), dir)
    // simulate a crashed commit: data dir for snapshot 1 exists, no manifest
    Seq(("ghost", 9)).toDF("doc_id", "v").write.parquet(s"$dir/data-1")
    val snap = TableIO.commit(Seq(("b", 2)).toDF("doc_id", "v"), dir)
    assert(snap.snapshotId == 1)
    val rows = TableIO.read(spark, dir).get.select("doc_id").as[String].collect().toSet
    assert(rows == Set("a", "b")) // ghost data gone, both commits visible
  }

  test("Runner: crash between docs commit and lineage commit is repaired on rerun") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("rep-out"), tmp("rep-metrics"))
    val gens = (0L until 30L).map(i => SyntheticDocs.generate(seed = 41, i))
    val input = spark.createDataset(gens.map(_.raw))

    // simulate: docs committed but the job died before the lineage commit
    val out = Pipeline.extract(input)
    TableIO.commit(Pipeline.toDocsDF(out), outDir)
    assert(TableIO.read(spark, metricsDir).isEmpty)

    // rerun over the same input: nothing pending, lineage reconstructed
    val r = Runner.run(input, outDir, metricsDir)
    assert(r.skippedAlreadyDone == 30)
    val metrics = TableIO.read(spark, metricsDir).get
    val agg = metrics.filter(col("snapshot_id") === 0)
      .agg(sum("doc_count"), sum("span_count")).collect().head
    assert(agg.getLong(0) == 30)
    assert(agg.getLong(1) == gens.map(_.expected.size).sum.toLong)

    // and the repair is itself idempotent
    Runner.run(input, outDir, metricsDir)
    assert(TableIO.read(spark, metricsDir).get
      .filter(col("snapshot_id") === 0)
      .agg(sum("doc_count")).collect().head.getLong(0) == 30)
  }

  test("Runner: lineage repair also fires when the rerun has pending work") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("rep2-out"), tmp("rep2-metrics"))
    val gens = (0L until 40L).map(i => SyntheticDocs.generate(seed = 47, i))
    val firstHalf = spark.createDataset(gens.take(20).map(_.raw))
    val full = spark.createDataset(gens.map(_.raw))

    // crash window: snapshot 0 committed, lineage missing
    TableIO.commit(Pipeline.toDocsDF(Pipeline.extract(firstHalf)), outDir)
    // rerun WITH pending work (20 new docs): snapshot 0's metrics must be
    // reconstructed, not skipped
    val r = Runner.run(full, outDir, metricsDir)
    assert(r.docsProcessed == 20 && r.snapshotId == 1)
    val metrics = TableIO.read(spark, metricsDir).get
    val bySnap = metrics.groupBy("snapshot_id")
      .agg(org.apache.spark.sql.functions.sum("doc_count").as("d"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(bySnap == Map(0L -> 20L, 1L -> 20L), bySnap)
  }

  test("Runner: a docs snapshot committed after three Runner snapshots gets exactly its own lineage") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("rep3-out"), tmp("rep3-metrics"))
    val gens = (0L until 40L).map(i => SyntheticDocs.generate(seed = 59, i))
    def batch(k: Int) = gens.slice(10 * k, 10 * k + 10)
    def spans(k: Int) = batch(k).map(_.expected.size.toLong).sum
    (0 until 3).foreach { k =>
      assert(Runner.run(spark.createDataset(batch(k).map(_.raw)), outDir, metricsDir).snapshotId == k)
    }
    // crash window: docs snapshot 3 committed, its lineage missing
    TableIO.commit(Pipeline.toDocsDF(Pipeline.extract(spark.createDataset(batch(3).map(_.raw)))),
      outDir)
    val all = spark.createDataset(gens.map(_.raw))
    val r = Runner.run(all, outDir, metricsDir)
    assert(r.snapshotId == 3 && r.docsProcessed == 0 && r.skippedAlreadyDone == 40)
    // the repair is metrics snapshot 3 and holds only docs snapshot 3's rows
    val repaired = TableIO.currentSnapshot(metricsDir).get
    assert(repaired.snapshotId == 3 && repaired.parentId == 2)
    val added = spark.read.parquet(s"$metricsDir/${repaired.dataDirs.last}")
      .agg(min("snapshot_id"), max("snapshot_id"), sum("doc_count"), sum("span_count"),
        sum("failure_count")).collect().head
    assert(added.toSeq == Seq(3L, 3L, 10L, spans(3), 0L), added)
    val bySnap = TableIO.read(spark, metricsDir).get.groupBy("snapshot_id")
      .agg(sum("doc_count"), sum("span_count")).collect()
      .map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
    assert(bySnap == (0 until 4).map(k => k.toLong -> (10L, spans(k))).toMap, bySnap)

    // the rerun after that adds nothing to either table
    val r2 = Runner.run(all, outDir, metricsDir)
    assert(r2.snapshotId == 3 && r2.docsProcessed == 0 && r2.skippedAlreadyDone == 40)
    assert(TableIO.currentSnapshot(metricsDir).get == repaired)
    assert(TableIO.currentSnapshot(outDir).get.snapshotId == 3)
  }

  test("Runner: a metrics chain out of step with the docs chain throws instead of writing") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("step-out"), tmp("step-metrics"))
    val gens = (0L until 30L).map(i => SyntheticDocs.generate(seed = 61, i).raw)
    Runner.run(spark.createDataset(gens.take(10)), outDir, metricsDir)
    // two docs snapshots without lineage: metrics snapshot 1 cannot hold
    // docs snapshot 2's rows
    Seq(gens.slice(10, 20), gens.drop(20)).foreach { b =>
      TableIO.commit(Pipeline.toDocsDF(Pipeline.extract(spark.createDataset(b))), outDir)
    }
    val e = intercept[IllegalStateException](
      Runner.run(spark.createDataset(gens), outDir, metricsDir))
    assert(e.getMessage.contains("docs snapshot 2"), e.getMessage)
    assert(TableIO.currentSnapshot(metricsDir).get.snapshotId == 0)
    assert(TableIO.read(spark, metricsDir).get.count() ==
      TableIO.currentSnapshot(metricsDir).get.rowCount)
  }

  test("Runner: reruns with only permanently-failing docs do not grow the snapshot chain") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("fail-out"), tmp("fail-metrics"))
    val ok = (0L until 10L).map(i => SyntheticDocs.generate(seed = 53, i).raw)
    val bad = graft.model.RawDoc("doc-zzz", "no_such_dialect", "x", "", Nil, Nil)
    val input = spark.createDataset(ok :+ bad)
    val r1 = Runner.run(input, outDir, metricsDir)
    assert(r1.snapshotId == 0 && r1.failures == 1)
    val r2 = Runner.run(input, outDir, metricsDir)
    val r3 = Runner.run(input, outDir, metricsDir)
    // no empty snapshots appended for the failing remainder
    assert(r2.snapshotId == 0 && r3.snapshotId == 0)
    assert(r2.failures == 1 && r2.skippedAlreadyDone == 10)
    assert(TableIO.currentSnapshot(outDir).get.snapshotId == 0)
  }

  test("HtmlExtract: text after </pre> or </blockquote> drops the closed flag") {
    val spans = HtmlExtract.extract(
      "<body><pre>code line</pre>tail text long enough to keep around" +
        "<blockquote>a quote that is long enough</blockquote>after quote tail text</body>")
      .spans.map(_.text)
    assert(spans.contains("```\ncode line\n```"))
    assert(spans.contains("tail text long enough to keep around"), spans)
    assert(spans.contains("> a quote that is long enough"))
    assert(spans.contains("after quote tail text"), spans)
  }

  test("HtmlExtract: img/br inside a heading do not break heading context") {
    val html = "<body><h2>Start<img src='x.png'><br>rest of heading</h2><p>Paragraph text long enough to keep.</p></body>"
    val spans = HtmlExtract.extract(html).spans
    val texts = spans.filter(_.kind == SpanKind.Text).map(_.text)
    // both heading fragments keep their level-2 prefix
    assert(texts.count(_.startsWith("## ")) == 2, texts)
  }

  test("Bench scaling corpus size is reported from the actual corpus") {
    // guard at the source level: the JSON must interpolate scaleDocs
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")))
    assert(src.contains("\"docs\":$scaleDocs"))
  }

  test("Bench.scalingPair: N = cores / 4 and 4N = 4 × N; none below 4 cores") {
    assert(Bench.scalingPair(2).isEmpty)
    assert(Bench.scalingPair(4).contains((1, 4)))
    assert(Bench.scalingPair(8).contains((2, 8)))
    assert(Bench.scalingPair(32).contains((8, 32)))
  }
}
