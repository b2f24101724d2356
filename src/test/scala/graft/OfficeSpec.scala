package graft

import graft.extract.OfficeExtract
import graft.extract.OfficeExtract.{Sheet, Slide}
import org.scalatest.funsuite.AnyFunSuite

/** PPTX and XLSX byte-level extraction: writer→parser round-trips,
  * ingestion routing, shared/inline string resolution, sparse cell refs.
  */
class OfficeSpec extends AnyFunSuite {

  test("pptx round-trip: slide order, titles, body paragraphs, tables") {
    val slides = Seq(
      Slide("First Slide", Seq("point one", "point two")),
      Slide("", Seq("untitled slide text")),
      Slide("Third", Nil))
    val bytes = OfficeExtract.buildPptx("My Deck", slides)
    val doc = OfficeExtract.extractPptx(bytes)
    assert(doc.title == "My Deck")
    assert(doc.slides == slides)
  }

  test("pptx spans: page break per slide, title heading, text blocks") {
    val doc = OfficeExtract.PptxDoc("t",
      Seq(Slide("Head", Seq("a")), Slide("", Seq("b"))))
    val spans = OfficeExtract.pptxSpans(doc)
    assert(spans.map(s => (s.kind, s.text)) == Seq(
      ("page_break", """{"next_page":1}"""),
      ("text", "# Head"),
      ("text", "a"),
      ("page_break", """{"next_page":2}"""),
      ("text", "b")))
  }

  test("pptx slide ordering is numeric, not lexicographic (slide10 after slide9)") {
    val slides = (1 to 11).map(i => Slide(s"S$i", Nil))
    val doc = OfficeExtract.extractPptx(OfficeExtract.buildPptx("t", slides))
    assert(doc.slides.map(_.title) == (1 to 11).map(i => s"S$i"))
  }

  test("pptx slide media: blip→slide rels→ppt/media payloads lift as img-K") {
    val jpgA = Array[Byte](0xff.toByte, 0xd8.toByte, 1)
    val pngB = Array[Byte](0x89.toByte, 'P', 2)
    val slides = Seq(
      Slide("One", Seq("text a"), Seq("img-0.jpeg")),
      Slide("Two", Seq("text b"), Seq("img-1.png")))
    val bytes = OfficeExtract.buildPptx("Deck", slides,
      Seq(("jpeg", jpgA), ("png", pngB)))
    val doc = OfficeExtract.extractPptx(bytes)
    assert(doc.slides.map(_.imageRefs) == Seq(Seq("img-0.jpeg"), Seq("img-1.png")))
    assert(doc.media.map(m => (m.media_ref, m.mime_type)) ==
      Seq(("img-0.jpeg", "image/jpeg"), ("img-1.png", "image/png")))
    assert(doc.media(0).content.sameElements(jpgA) && doc.media(1).content.sameElements(pngB))
    // ingestion: image spans on their slides + sidecar items
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("d.pptx", bytes))
    assert(out.media.map(_.media_ref) == Seq("img-0.jpeg", "img-1.png"))
    assert(out.spans.filter(_.kind == "image").map(_.media_ref) ==
      Seq("img-0.jpeg", "img-1.png"))
  }

  test("xlsx round-trip: sheet names, numeric + inline-string cells") {
    val sheets = Seq(
      ("Alpha", Seq(Seq("H1", "H2"), Seq("text val", "42"), Seq("x", "y"))),
      ("Beta", Seq(Seq("only"))))
    val bytes = OfficeExtract.buildXlsx("Book", sheets)
    val doc = OfficeExtract.extractXlsx(bytes)
    assert(doc.title == "Book")
    assert(doc.sheets.map(_.name) == Seq("Alpha", "Beta"))
    assert(doc.sheets.head.tableMd ==
      "|H1|H2|\n|---|---|\n|text val|42|\n|x|y|")
    assert(doc.sheets(1).tableMd == "|only|\n|---|")
  }

  test("xlsx shared strings and sparse cell refs resolve") {
    // hand-built sheet: shared strings + a gap (A1 then C1)
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="S" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml",
      """<sst><si><t>hello</t></si><si><t>world</t></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row></sheetData></worksheet>""")
    z.close()
    val doc = OfficeExtract.extractXlsx(out.toByteArray)
    assert(doc.sheets.head.tableMd == "|hello||world|\n|---|---|---|")
  }

  test("xlsx reordered sheets pair by workbook relationships, not part position") {
    // Excel keeps part names when sheets are reordered: workbook lists
    // 'Summary' first but its data lives in sheet2.xml (rId2); positional
    // pairing would show sheet1's cells under the 'Summary' heading
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Summary" sheetId="2" r:id="rId2"/><sheet name="Detail" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>detail-data</t></is></c></row></sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>summary-data</t></is></c></row></sheetData></worksheet>""")
    z.close()
    val doc = OfficeExtract.extractXlsx(out.toByteArray)
    assert(doc.sheets.map(s => (s.name, s.tableMd)) == Seq(
      ("Summary", "|summary-data|\n|---|"),
      ("Detail", "|detail-data|\n|---|")))
  }

  test("colOf: A=0, Z=25, AA=26, BC=54") {
    assert(OfficeExtract.colOf("A1") == 0)
    assert(OfficeExtract.colOf("Z9") == 25)
    assert(OfficeExtract.colOf("AA3") == 26)
    assert(OfficeExtract.colOf("BC23") == 54)
  }

  test("ingestion routes: .pptx and .xlsx extract; malformed are failure rows") {
    val pptx = OfficeExtract.buildPptx("Routed Deck", Seq(Slide("T", Seq("body"))))
    val outP = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("a/deck.pptx", pptx))
    assert(outP.failure.isEmpty && outP.title == "Routed Deck" && outP.page_count == 1)
    assert(outP.spans.map(_.text) == Seq("""{"next_page":1}""", "# T", "body"))

    val xlsx = OfficeExtract.buildXlsx("Routed Book", Seq(("S", Seq(Seq("a", "b")))))
    val outX = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("a/book.xlsx", xlsx))
    assert(outX.failure.isEmpty && outX.title == "Routed Book" && outX.page_count == 1)
    assert(outX.spans.map(_.text) == Seq("""{"next_page":1}""", "## S", "|a|b|\n|---|---|"))

    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("x.pptx", "junk".getBytes))
      .failure.startsWith("pptx_parse_error"))
    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("x.xlsx", "junk".getBytes))
      .failure.startsWith("xlsx_parse_error"))
  }
}
