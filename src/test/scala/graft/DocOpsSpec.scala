package graft

import graft.extract.PdfLayout
import graft.model._
import graft.ops.DocOps
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DocOpsSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  test("applyCorrections: reverse order, first-wins per line, bounds-checked") {
    val text = "line one\nline two\nline three"
    val (out, idx) = DocOps.applyCorrections(text, Seq(
      DocOps.LineCorrection(2, "LINE TWO"),
      DocOps.LineCorrection(2, "ignored duplicate"),
      DocOps.LineCorrection(99, "out of range"),
      DocOps.LineCorrection(1, "LINE ONE")))
    assert(out == "LINE ONE\nLINE TWO\nline three")
    assert(idx == Set(0, 1))
  }

  test("guessMime resolves known extensions and falls back") {
    import spark.implicits._
    val got = Seq("a/b.PDF", "x.html", "y.jpeg", "z.weird", "noext")
      .toDF("p").select(DocOps.guessMime(col("p"))).as[String].collect()
    assert(got.toSeq == Seq("application/pdf", "text/html", "image/jpeg",
      "application/octet-stream", "application/octet-stream"))
  }

  test("withCost multiplies the provider price by page count") {
    import spark.implicits._
    val df = Seq(("azure", 2), ("datalab", 10), ("unknown", 3)).toDF("prov", "pages")
    val got = DocOps.withCost(df, col("prov"), col("pages"))
      .select("cost_usd").as[Double].collect()
    assert(got.toSeq == Seq(0.01916, 0.015, 0.0))
  }

  test("exportRows produce the golden-shaped document.md plus image files") {
    import spark.implicits._
    val doc = Doc("d1", Seq(
      graft.md.Markdown.pageBreakSpan(1, 0),
      Span(SpanKind.Text, "# T", "", 1),
      Span(SpanKind.Image, "img-0", "img-0.png", 2)),
      title = "t", source_path = "s.pdf", mime_type = "application/pdf")
    val rows = DocOps.exportRows(spark.createDataset(Seq(doc)))
      .orderBy("filename").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("document.md", "img-0.png"))
    val md = rows(0).getString(2)
    assert(md.startsWith("---\ntitle: t\nsource_path: s.pdf\nmime_type: application/pdf\npage_count: 1\n---\n"))
    assert(md.contains("""<!-- docler:page_break {"next_page":1} -->"""))
    assert(md.contains("![img-0](img-0.png)"))
    val files = DocOps.filesList(spark.createDataset(Seq(doc)))
      .select("files").as[Seq[String]].collect().head
    assert(files == Seq("document.md", "img-0.png"))
  }

  test("export markdown re-parses to the identical span stream (round trip)") {
    import spark.implicits._
    val gens = (0L until 40L).map(i => graft.io.SyntheticDocs.generate(seed = 21, i))
    val docs = spark.createDataset(gens.map(g => Doc(g.raw.doc_id, g.expected)))
    val mds = DocOps.exportRows(docs).filter(col("filename") === "document.md")
      .select("doc_id", "content").as[(String, String)].collect().toMap
    gens.foreach { g =>
      assert(graft.md.Markdown.parse(mds(g.raw.doc_id)) == g.expected, g.raw.doc_id)
    }
  }

  test("verifyJoin flags equal, differing and missing docs") {
    import spark.implicits._
    val a = Seq(
      Doc("same", Seq(Span("text", "x", "", 0))),
      Doc("diff", Seq(Span("text", "a", "", 0))),
      Doc("only_ours", Seq(Span("text", "o", "", 0))))
    val b = Seq(
      Doc("same", Seq(Span("text", "x", "", 0))),
      Doc("diff", Seq(Span("text", "b", "", 0))),
      Doc("only_golden", Seq(Span("text", "g", "", 0))))
    val out = DocOps.verifyJoin(
      spark.createDataset(a).toDF(), spark.createDataset(b).toDF())
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("same" -> true, "diff" -> false,
      "only_ours" -> false, "only_golden" -> false))
  }

  test("layout: info-dictionary rows add no page and leak no text") {
    val laid = PdfLayout.layout(Seq(
      PdfElement(0, 0, 0, 0, 0, "info_title", "Dict Title"),
      PdfElement(0, 0, 0, 0, 0, "info_author", "Ada Lovelace"),
      PdfElement(1, 0, 0, 100, 20, "text", "# Heading Title"),
      PdfElement(1, 0, 40, 100, 20, "text", "body")))
    assert(!laid.spans.exists(_.text.contains("Ada")))
    assert(laid.spans.map(_.kind) == Seq("page_break", "text", "text"))
  }

  test("numberedLines matches the reference projection") {
    import spark.implicits._
    val df = Seq((1L, "a\nbb")).toDF("doc_id", "text")
    val got = DocOps.numberedLines(df).select("line_idx", "numbered")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((0, "    1 | a"), (1, "    2 | bb")))
  }
}

/** Directory-scan filter chain (glob/exclude/max_depth, base.py:343-398). */
class GlobFilterSpec extends org.scalatest.funsuite.AnyFunSuite {

  lazy val spark = graft.pipeline.Pipeline.session("local[4]", 4, "graft-test")

  test("globToRegex: ** crosses directories, * and ? stay in one segment") {
    def m(glob: String, path: String): Boolean = path.matches(DocOps.globToRegex(glob))
    assert(m("**/*", "a/b/c.txt") && m("**/*", "c.txt"))
    assert(m("*.pdf", "doc.pdf") && !m("*.pdf", "dir/doc.pdf"))
    assert(m("data/**/f*", "data/x/y/f1.pdf") && m("data/**/f*", "data/f1.pdf"))
    assert(!m("data/**/f*", "other/f1.pdf"))
    assert(m("f?.txt", "f1.txt") && !m("f?.txt", "f12.txt") && !m("f?.txt", "f/.txt"))
    assert(m("a[0-9].txt", "a7.txt"))
    assert(m("exact.name", "exact.name") && !m("exact.name", "exactXname")) // '.' literal
    // fnmatch class edges: leading ']' is a literal member; '[!...]' negates;
    // an unclosed '[' is literal — none of these may throw
    assert(m("a[]]b", "a]b") && !m("a[]]b", "axb"))
    assert(m("a[!x]b", "ayb") && !m("a[!x]b", "axb"))
    assert(!m("a[!x]b", "a/b")) // negated class stays within one segment
    // leading '-' is a literal member, also under negation (the emitted
    // '[^/-...]' must NOT become the range '/'..'X')
    assert(m("a[-x]b", "a-b") && m("a[!-x]b", "aZb") && !m("a[!-x]b", "a-b"))
    assert(m("a[!]b", "a[!]b")) // unclosed class → literal
    assert(m("lit[", "lit["))
    assert(!m("a[^x]b", "ayb") && m("a[^x]b", "a^b")) // '^' literal, not negation
  }

  test("directoryFilter chains glob + exclude + depth + MIME support") {
    import spark.implicits._
    val df = Seq(
      "data/a/f1.pdf",       // keep
      "data/a/sub/f2.pdf",   // excluded dir
      "data/a/f3.log",       // unsupported MIME
      "other/f4.pdf",        // include pattern miss
      "data/a/b/c/d/f5.pdf"  // too deep (5 levels > 3)
    ).toDF("path")
    val kept = DocOps.directoryFilter(df, pattern = "data/**/f*",
      exclude = Seq("**/sub/**"), maxDepth = 3)
      .select("path").as[String].collect().toSet
    assert(kept == Set("data/a/f1.pdf"))
  }
}
