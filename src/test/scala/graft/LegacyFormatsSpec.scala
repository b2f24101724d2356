package graft

import graft.extract.{CfbExtract, DocExtract, OdsExtract, OfficeExtract, PptExtract, RstExtract}
import graft.extract.DocxExtract.{PageBreak, Para}
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 formats: CFB container, legacy .doc/.ppt, ODS, and rST —
  * writer→reader round-trips through the REAL ingestion route plus the
  * spec corners (mini stream vs regular sectors, both .doc piece
  * decodings, both .ppt text atoms, repeated ODS columns, rST grammar).
  */
class LegacyFormatsSpec extends AnyFunSuite {

  // ------------------------------------------------------------ CFB
  test("CFB round-trip: mini-stream and regular-sector placement") {
    val small = "tiny stream".getBytes("UTF-8")
    val big = Array.tabulate[Byte](5000)(i => (i % 251).toByte)
    val mid = Array.tabulate[Byte](4096)(i => (i % 13).toByte) // exactly cutoff
    val bytes = CfbExtract.build(Seq("Small" -> small, "Big" -> big, "Mid" -> mid))
    val streams = CfbExtract.readStreams(bytes).fold(e => fail(e), identity)
    assert(streams.keySet == Set("Small", "Big", "Mid"))
    assert(streams("Small").toSeq == small.toSeq)
    assert(streams("Big").toSeq == big.toSeq)
    assert(streams("Mid").toSeq == mid.toSeq)
  }

  test("CFB rejects garbage without throwing") {
    assert(CfbExtract.readStreams("not a container".getBytes).isLeft)
    assert(CfbExtract.readStreams(Array.emptyByteArray).isLeft)
  }

  test("OLEPS summary title round-trips") {
    assert(CfbExtract.summaryTitle(CfbExtract.buildSummary("My Title X")) == "My Title X")
    assert(CfbExtract.summaryTitle(Array.emptyByteArray) == "")
  }

  // ------------------------------------------------------------ .doc
  test(".doc round-trip: piece table with CP-1252 and UTF-16LE pieces") {
    val paras = Seq("First paragraph here", "Second one", "Third block text",
      "Fourth paragraph content")
    val bytes = DocExtract.buildDoc("Doc Title", paras, pageBreakBefore = Seq(2))
    val doc = DocExtract.extract(bytes).fold(e => fail(e), identity)
    assert(doc.title == "Doc Title")
    assert(doc.blocks == paras.take(2).map(Para) ++ Seq(PageBreak) ++ paras.drop(2).map(Para))
    assert(doc.pageCount == 2)
  }

  test(".doc through the REAL ingestion route emits RTF-shaped spans") {
    val bytes = DocExtract.buildDoc("T", Seq("alpha", "beta"), Nil)
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("legacy.doc", bytes))
    assert(out.failure.isEmpty, out.failure)
    assert(out.title == "T")
    assert(out.page_count == 1)
    assert(out.spans.filter(_.kind == "text").map(_.text) == Seq("alpha", "beta"))
  }

  test(".doc rejects a DOCX container as a failure row") {
    val docx = graft.extract.DocxExtract.buildDocx("x", Seq(graft.extract.DocxExtract.Para("y")))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("fake.doc", docx))
    assert(out.failure.nonEmpty)
  }

  // ------------------------------------------------------------ .ppt
  test(".ppt round-trip: slides with UTF-16 titles and byte-atom bodies") {
    val slides = Seq(("Intro", Seq("point one", "point two")), ("", Seq("untitled body")))
    val bytes = PptExtract.buildPpt("Deck T", slides)
    val doc = PptExtract.extract(bytes).fold(e => fail(e), identity)
    assert(doc.title == "Deck T")
    assert(doc.slides.map(_.title) == Seq("Intro", ""))
    assert(doc.slides.map(_.blocks) == Seq(Seq("point one", "point two"), Seq("untitled body")))
  }

  test(".ppt SlideListWithText shape: placeholder text outside the drawings") {
    val slides = Seq(("Head A", Seq("line a")), ("Head B", Seq("line b", "line c")))
    val bytes = PptExtract.buildPpt("SLWT Deck", slides, viaSlideListWithText = true)
    val doc = PptExtract.extract(bytes).fold(e => fail(e), identity)
    assert(doc.title == "SLWT Deck")
    assert(doc.slides.map(_.title) == Seq("Head A", "Head B"))
    assert(doc.slides.map(_.blocks) == Seq(Seq("line a"), Seq("line b", "line c")))
  }

  test(".doc field instructions drop, field results keep") {
    // HYPERLINK field: 0x13 instruction 0x14 result 0x15; nested PAGEREF
    val para = "before \u0013HYPERLINK \"http://x\" \\h\u0014click here\u0015 after"
    val bytes = DocExtract.buildDoc("F", Seq(para, "plain"), Nil)
    val doc = DocExtract.extract(bytes).fold(e => fail(e), identity)
    assert(doc.blocks == Seq(Para("before click here after"), Para("plain")))
  }

  test(".ppt through the REAL ingestion route (explicit MIME, like the reference's convert call)") {
    val bytes = PptExtract.buildPpt("D", Seq(("S1", Seq("b1"))))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("deck.ppt", bytes, "application/vnd.ms-powerpoint"))
    assert(out.failure.isEmpty, out.failure)
    assert(out.title == "D" && out.page_count == 1)
    assert(out.spans.map(s => (s.kind, s.text)) == Seq(
      ("page_break", """{"next_page":1}"""),
      ("text", "# S1"),
      ("text", "b1")))
  }

  // ------------------------------------------------------------ .ods
  test(".ods round-trip: sheets, repeated blank columns trimmed") {
    val sheets = Seq(
      ("Data", Seq(Seq("Name", "Value"), Seq("a", "1"))),
      ("Empty", Seq(Seq("only"))))
    val bytes = OdsExtract.buildOds("Book O", sheets)
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("book.ods", bytes))
    assert(out.failure.isEmpty, out.failure)
    assert(out.title == "Book O" && out.page_count == 2)
    val texts = out.spans.filter(_.kind == "text").map(_.text)
    assert(texts.head == "## Data")
    assert(texts(1).startsWith("|Name|Value|"))
    assert(texts(1).contains("|a|1|"))
    assert(texts(2) == "## Empty")
  }

  private def zipOf(parts: (String, String)*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    parts.foreach { case (n, c) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close(); out.toByteArray
  }

  test(".ods: number-rows-repeated expands, covered cells hold columns, empty sheets render") {
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="S"><table:table-row table:number-rows-repeated="2">
        |<table:table-cell table:number-columns-spanned="2"><text:p>merged</text:p></table:table-cell>
        |<table:covered-table-cell/>
        |<table:table-cell table:number-columns-repeated="2" office:value="7"/>
        |<table:table-cell><text:p>tail</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row><table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="1000"/></table:table-row>
        |</table:table>
        |<table:table table:name="Sheet2"/>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val bytes = zipOf("mimetype" -> "application/vnd.oasis.opendocument.spreadsheet",
      "content.xml" -> content)
    val doc = OdsExtract.extract(bytes)
    assert(doc.sheets.map(_.name) == Seq("S", "Sheet2"))
    assert(doc.sheets.head.tableMd ==
      "|merged||7|7|tail|\n|---|---|---|---|---|\n|merged||7|7|tail|\n|a|||||")
    // an empty trailing sheet must not fail the document (tableMd on Nil)
    assert(doc.sheets(1).tableMd == "")
    val spans = OfficeExtract.xlsxSpans(doc)
    assert(spans.map(_.text).contains("## Sheet2"))
  }

  // ------------------------------------------------------------ rST
  test("rST: underline/overline headings get docutils-style levels") {
    val rst =
      """Top Title
        |=========
        |
        |intro paragraph
        |
        |Section
        |-------
        |
        |body text
        |
        |Another Top
        |===========
        |""".stripMargin
    val md = RstExtract.toMarkdown(rst)
    assert(md.contains("# Top Title"))
    assert(md.contains("## Section"))
    assert(md.contains("# Another Top"))
  }

  test("rST: literal blocks fence, directives convert, comments drop") {
    val rst =
      """Usage::
        |
        |    run --fast
        |    run --slow
        |
        |.. code-block:: scala
        |
        |    val x = 1
        |
        |.. image:: pics/logo.png
        |
        |.. this is a comment
        |   with a second line
        |
        |End text with ``inline`` and :ref:`target`.
        |""".stripMargin
    val md = RstExtract.toMarkdown(rst)
    assert(md.contains("Usage:\n```\nrun --fast\nrun --slow\n```"))
    assert(md.contains("```scala\nval x = 1\n```"))
    assert(md.contains("![](pics/logo.png)"))
    assert(!md.contains("comment"))
    assert(md.contains("End text with `inline` and target."))
  }

  test("rST: period adornments are transitions/overlines, not comments") {
    val md = RstExtract.toMarkdown("para one\n\n.....\n\npara two\n")
    assert(md.contains("---"), md)
    assert(md.contains("para two"))
    // '..' with body is still a comment
    assert(!RstExtract.toMarkdown(".. note text\n   more\n").contains("note text"))
  }

  test("rST routes through ingestion as structural markdown") {
    val rst = "Title\n=====\n\nhello world body\n"
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("readme.rst", rst.getBytes("UTF-8")))
    assert(out.failure.isEmpty, out.failure)
    val texts = out.spans.filter(_.kind == "text").map(_.text)
    assert(texts.contains("# Title"))
    assert(texts.exists(_.contains("hello world body")))
  }
}
