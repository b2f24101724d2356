package graft

import graft.extract.DocxExtract.{DocxDoc, Para, PageBreak, Pic, Table}
import graft.extract.{DocxExtract, OdtExtract, RtfExtract}
import org.scalatest.funsuite.AnyFunSuite

/** ODT (content.xml) and RTF (control-word machine) extraction. */
class OdtRtfSpec extends AnyFunSuite {

  private def paragraphs(doc: DocxDoc): Seq[String] = doc.blocks.collect { case Para(t) => t }

  test("odt round-trip: headings, lists, tables, title") {
    val blocks = Seq(
      Para("# Main Heading"),
      Para("## Second level"),
      Para("Plain paragraph text."),
      Para("- item one"),
      Para("- item two"),
      Table("|A|B|\n|---|---|\n|1|2|"))
    val bytes = OdtExtract.buildOdt("Odt Title", blocks)
    val doc = OdtExtract.extract(bytes)
    assert(doc.title == "Odt Title")
    assert(doc.blocks == blocks)
  }

  test("odt Pictures media lift as img-K items") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 5, 6)
    val blocks = Seq(Para("text"), Pic("img-0.png"))
    val bytes = OdtExtract.buildOdt("t", blocks, Seq(("png", png)))
    val doc = OdtExtract.extract(bytes)
    assert(doc.blocks == blocks)
    assert(doc.media.map(_.media_ref) == Seq("img-0.png"))
    assert(doc.media.head.content.sameElements(png))
  }

  test("odt escapes, text:s runs, nested note skipping") {
    val content = ("""<?xml version="1.0"?>
      |<office:document-content xmlns:office="urn:o" xmlns:text="urn:t">
      |<office:body><office:text>
      |<text:p>a &amp; b<text:s text:c="3"/>c<text:note><text:p>FOOTNOTE</text:p></text:note> d</text:p>
      |</office:text></office:body></office:document-content>""").stripMargin
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    z.write(content.getBytes("UTF-8")); z.closeEntry(); z.close()
    val doc = OdtExtract.extract(out.toByteArray)
    assert(doc.blocks == Seq(Para("a & b c d")))
  }

  test("rtf: paragraphs, escapes, hex and unicode, fonttbl/info skipped, title") {
    val rtf = RtfExtract.buildRtf("Rtf Title",
      Seq("first paragraph", "braces {x} and back\\slash", "café 中"))
    val doc = RtfExtract.extract(rtf.getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(doc.title == "Rtf Title")
    assert(doc.blocks == Seq(
      "first paragraph", "braces {x} and back\\slash", "café 中").map(Para))
    assert(doc.pageCount == 1)
  }

  test("rtf: hex escapes, uc skip counts, page breaks") {
    // NB: Scala pre-processes \uXXXX in raw strings — build via escapes
    val rtf = "{\\rtf1\\ansi {\\fonttbl{\\f0 X;}}caf\\'e9 one\\par\\page two\\par" +
      "\\uc1\\u233?x\\par}"
    val doc = RtfExtract.extract(rtf.getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(doc.blocks == Seq(Para("café one"), PageBreak, Para("two"), Para("éx")))
    assert(doc.pageCount == 2)
    assert(DocxExtract.toSpans(doc).count(_.kind == "page_break") == 2)
  }

  test("rtf: non-rtf and malformed inputs are Lefts/graceful") {
    val notRtf = "rtf_parse_error: not an RTF document (missing {\\rtf header)"
    assert(RtfExtract.extract("plain text".getBytes) == Left(notRtf))
    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("p.rtf", "plain text".getBytes)).failure == notRtf)
    // unbalanced groups terminate without throwing
    val doc = RtfExtract.extract("{\\rtf1 open {group text".getBytes)
      .fold(e => fail(e), identity)
    assert(paragraphs(doc) == Seq("open group text"))
  }

  test("rtf: field results flow, instructions skip; \\bin raw bytes don't desync groups") {
    // hyperlink field: display text kept, HYPERLINK instruction dropped
    val fld = "{\\rtf1 see {\\field{\\*\\fldinst HYPERLINK \"http://x\"}" +
      "{\\fldrslt Click here}} now\\par}"
    val d1 = RtfExtract.extract(fld.getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(paragraphs(d1) == Seq("see Click here now"))
    // \binN payload containing '}' must not close the pict group early
    val binPayload = Array[Byte]('}', '{', '}', 0)
    val pre = "{\\rtf1 before {\\pict\\bin4 ".getBytes("ISO-8859-1")
    val post = "} after\\par}".getBytes("ISO-8859-1")
    val d2 = RtfExtract.extract(pre ++ binPayload ++ post).fold(e => fail(e), identity)
    assert(paragraphs(d2) == Seq("before after"))
  }

  test("rtf: trailing \\page emits its page_break span (page_count consistency)") {
    val rtf = "{\\rtf1 Intro\\par\\page}"
    val doc = RtfExtract.extract(rtf.getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(doc.pageCount == 2)
    val spans = DocxExtract.toSpans(doc)
    assert(spans.count(_.kind == "page_break") == 2)
    assert(spans.last.text == """{"next_page":2}""")
  }

  test("odt: heading text inside a table cell lands in the cell") {
    val content = ("""<?xml version="1.0"?>
      |<office:document-content xmlns:office="urn:o" xmlns:text="urn:t" xmlns:table="urn:tb">
      |<office:body><office:text>
      |<table:table><table:table-row>
      |<table:table-cell><text:h text:outline-level="2">Quarterly Totals</text:h></table:table-cell>
      |<table:table-cell><text:p>42</text:p></table:table-cell>
      |</table:table-row></table:table>
      |</office:text></office:body></office:document-content>""").stripMargin
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    z.write(content.getBytes("UTF-8")); z.closeEntry(); z.close()
    val doc = OdtExtract.extract(out.toByteArray)
    assert(doc.blocks == Seq(Table("|Quarterly Totals|42|\n|---|---|")))
  }

  test("rtf: uc fallback consumes control-word/symbol fallbacks; signed \\uN round-trips") {
    // \uc1\u233 with a \'e9 hex fallback: the fallback is consumed, not doubled
    val hexFb = "{\\rtf1 caf\\uc1\\u233\\'e9 x\\par}"
    assert(paragraphs(RtfExtract.extract(hexFb.getBytes("ISO-8859-1"))
      .fold(e => fail(e), identity)) == Seq("café x"))
    // control-SYMBOL fallback (\~) consumed too
    val symFb = "{\\rtf1 a\\uc1\\u160\\~b\\par}"
    assert(paragraphs(RtfExtract.extract(symFb.getBytes("ISO-8859-1"))
      .fold(e => fail(e), identity)) == Seq("a b"))
    // writer emits SIGNED 16-bit \uN for U+8000..: full round-trip
    val rtf = RtfExtract.buildRtf("t", Seq("wide ！ char"))
    assert(rtf.contains("\\u-255?"))
    assert(paragraphs(RtfExtract.extract(rtf.getBytes("ISO-8859-1"))
      .fold(e => fail(e), identity)) == Seq("wide ！ char"))
  }

  test("rtf: consecutive \\page = blank page; malformed params degrade, not fail") {
    val doc = RtfExtract.extract("{\\rtf1 A\\par\\page\\page B\\par}".getBytes)
      .fold(e => fail(e), identity)
    assert(doc.pageCount == 3)
    val spans = DocxExtract.toSpans(doc)
    assert(spans.map(_.text) == Seq(
      """{"next_page":1}""", "A", """{"next_page":2}""", """{"next_page":3}""", "B"))
    // '-' with no digits and an overflowing parameter both degrade gracefully
    val d2 = RtfExtract.extract("{\\rtf1 ok\\foo-x more\\bin2147483648 tail\\par}".getBytes)
      .fold(e => fail(e), identity)
    assert(paragraphs(d2).head.startsWith("okx more"))
  }

  test("ingestion routes: .odt and .rtf extract through the pipeline") {
    val odt = OdtExtract.buildOdt("Routed Odt", Seq(Para("# H"), Para("body")))
    val o1 = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc("a/x.odt", odt))
    assert(o1.failure.isEmpty && o1.title == "Routed Odt")
    assert(o1.spans.map(_.text) == Seq("""{"next_page":1}""", "# H", "body"))

    val rtf = RtfExtract.buildRtf("Routed Rtf", Seq("alpha", "beta"))
    val o2 = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("a/x.rtf", rtf.getBytes("ISO-8859-1")))
    assert(o2.failure.isEmpty && o2.title == "Routed Rtf")
    assert(o2.spans.map(_.text) == Seq("""{"next_page":1}""", "alpha", "beta"))

    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("b.odt", "junk".getBytes)).failure.startsWith("odt_parse_error"))
    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("b.rtf", "junk".getBytes)).failure.startsWith("rtf_parse_error"))
  }
}
