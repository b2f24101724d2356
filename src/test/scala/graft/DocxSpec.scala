package graft

import graft.extract.DocxExtract
import graft.extract.DocxExtract.{Para, PageBreak, Pic, Table}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level DOCX extraction: writer→parser round-trips over every block
  * type, the ingestion route, and failure behavior.
  */
class DocxSpec extends AnyFunSuite {

  test("round-trip: headings, body, lists, table, page break, title") {
    val blocks = Seq(
      Para("# Big Title"),
      Para("## Sub heading"),
      Para("Plain body paragraph."),
      Para("- first item"),
      Para("- second item"),
      Table("|H1|H2|\n|---|---|\n|a|b|\n|c|d|"),
      PageBreak,
      Para("After the break."))
    val bytes = DocxExtract.buildDocx("My Title", blocks)
    val doc = DocxExtract.extract(bytes)
    assert(doc.title == "My Title")
    assert(doc.blocks == blocks)
    assert(doc.pageCount == 2)
  }

  test("toSpans: leading page marker, page break increments, text spans in order") {
    val doc = DocxExtract.DocxDoc("t", Seq(Para("one"), PageBreak, Para("two")))
    val spans = DocxExtract.toSpans(doc)
    assert(spans.map(s => (s.kind, s.text)) == Seq(
      ("page_break", """{"next_page":1}"""),
      ("text", "one"),
      ("page_break", """{"next_page":2}"""),
      ("text", "two")))
    assert(spans.map(_.offset) == Seq(0, 1, 2, 3))
  }

  test("XML escapes and whitespace collapse round-trip") {
    val blocks = Seq(Para("a < b & c > d \"quoted\""), Para("multi  space   text"))
    val doc = DocxExtract.extract(DocxExtract.buildDocx("T<&>", blocks))
    assert(doc.title == "T<&>")
    assert(doc.blocks.head == Para("a < b & c > d \"quoted\""))
    // writer preserves, parser collapses runs of whitespace
    assert(doc.blocks(1) == Para("multi space text"))
  }

  test("deterministic bytes: same input → identical zip") {
    val blocks = Seq(Para("x"), Table("|a|b|\n|---|---|\n|1|2|"))
    val b1 = DocxExtract.buildDocx("t", blocks)
    val b2 = DocxExtract.buildDocx("t", blocks)
    assert(java.util.Arrays.equals(b1, b2))
  }

  test("malformed bytes are a Left, never a throw") {
    // the converter throws; the format table's envelope phrases the row
    def failure(bytes: Array[Byte]): String = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("f.docx", bytes)).failure
    val missing = "docx_parse_error: IllegalStateException: no word/document.xml"
    assert(failure("not a zip".getBytes) == missing)
    assert(failure(Array.emptyByteArray) == missing)
    // a valid zip with no word/document.xml
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    z.write("x".getBytes); z.closeEntry(); z.close()
    assert(failure(out.toByteArray) == missing)
  }

  test("ingestion route: .docx → docx_bytes → content spans; junk .doc fails as a row") {
    val bytes = DocxExtract.buildDocx("Routed", Seq(Para("# H"), Para("body")))
    val raw = graft.io.Ingest.toRawDoc("dir/file.docx", bytes)
    assert(raw.payload_kind == "docx_bytes")
    val out = graft.pipeline.Pipeline.extractOne(raw)
    assert(out.failure.isEmpty)
    assert(out.title == "Routed")
    assert(out.page_count == 1)
    assert(out.spans.map(_.text) == Seq("""{"next_page":1}""", "# H", "body"))
    // legacy binary .doc routes to the round-5 CFB parser; junk bytes are
    // a failure ROW there (LegacyFormatsSpec covers the real round-trip)
    val doc = graft.io.Ingest.toRawDoc("dir/file.doc", "junk".getBytes)
    assert(doc.payload_kind == "doc_bytes")
    val docOut = graft.pipeline.Pipeline.extractOne(doc)
    assert(docOut.failure.startsWith("cfb_parse_error"))
    // corrupt docx payload → failure row with the parse error
    val bad = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("x.docx", "PK garbage".getBytes))
    assert(bad.failure.startsWith("docx_parse_error"))
  }

  test("embedded media: blip→rels→word/media bytes lift as img-K items") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 9, 8)
    val blocks = Seq(
      Para("before"),
      Pic("img-0.png"),
      Para("between"),
      Pic("img-1.jpeg"),
      PageBreak,
      Para("after"))
    val bytes = DocxExtract.buildDocx("Pics", blocks, Seq(("png", png), ("jpeg", jpg)))
    val doc = DocxExtract.extract(bytes)
    assert(doc.blocks == blocks)
    assert(doc.media.map(m => (m.media_ref, m.mime_type)) ==
      Seq(("img-0.png", "image/png"), ("img-1.jpeg", "image/jpeg")))
    assert(doc.media(0).content.sameElements(png) && doc.media(1).content.sameElements(jpg))
    // span stream carries image spans; ingestion lifts the sidecar
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("p.docx", bytes))
    assert(out.media.map(_.media_ref) == Seq("img-0.png", "img-1.jpeg"))
    assert(out.spans.filter(_.kind == "image").map(s => (s.text, s.media_ref)) ==
      Seq(("img-0", "img-0.png"), ("img-1", "img-1.jpeg")))
    // the same rid referenced twice reuses one media item (cache)
    val doc2 = DocxExtract.extract(bytes)
    assert(doc2.media.size == 2)
  }

  test("title fallback: empty core title → filename stem") {
    val bytes = DocxExtract.buildDocx("", Seq(Para("body")))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("a/report.docx", bytes))
    assert(out.title == "report")
  }

  test("tables: ragged rows pad to the widest; nested content stays in cells") {
    val md = "|a|b|c|\n|---|---|---|\n|1|2|3|"
    val doc = DocxExtract.extract(DocxExtract.buildDocx("t", Seq(Table(md))))
    assert(doc.blocks == Seq(Table(md)))
  }
}
