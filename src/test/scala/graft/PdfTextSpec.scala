package graft

import graft.extract.{Bin, PdfBytes, PdfText}
import org.scalatest.funsuite.AnyFunSuite

/** Content-stream text extraction against the reference's REAL fixture PDFs.
  * Expected values (page/line counts, first lines, and the SHA-256 of the
  * full extracted text) were established by the independent second
  * implementation `tools/pdf_text_oracle.py` — run it with --hash to
  * regenerate; both implement the same public-spec contract from scratch
  * and agree byte-for-byte.
  */
class PdfTextSpec extends AnyFunSuite {

  private val resources = "/root/reference/tests/resources"

  /** Minimal one-page PDF with a /Differences entry remapping code 65 to
    * an unresolvable private glyph name, and NO embedded font program.
    */
  private def pdfWithPrivateDifferences: Array[Byte] = {
    val pdf = new Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    val content = "BT\n/F1 12 Tf\n72 720 Td\n(AB) Tj\nET\n"
    pdf.obj(4, s"<< /Length ${content.length} >>\nstream\n${content}endstream")
    pdf.obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding << /BaseEncoding /WinAnsiEncoding /Differences [ 65 /gPriv7 ] >> >>")
    pdf.finish("")
  }

  test("Differences with a private name and NO font program keeps U+FFFD") {
    // code 65 is REMAPPED away from 'A' by /Differences; without an
    // embedded program nothing can resolve /gPriv7, so decoding the raw
    // byte as 'A' would be silently wrong text — it must surface as the
    // honest replacement char, while the untouched 'B' still decodes
    val texts = PdfText.pageTexts(pdfWithPrivateDifferences)
      .fold(e => fail(e), identity)
    assert(texts == Seq("�B"), texts)
  }

  private def read(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def fullText(pages: Seq[PdfText.PageContent]): String =
    pages.map(_.lines.map(_.text).mkString("\n")).mkString("\f")

  test("pdf_sample.pdf: full text matches the independent oracle byte-for-byte") {
    val f = new java.io.File(s"$resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val pages = PdfText.extract(read(f.getPath)).fold(e => fail(e), identity)
    assert(pages.map(_.page) == Seq(1, 2, 3, 4))
    assert(pages.map(_.lines.size) == Seq(34, 39, 38, 0)) // page 4 is image-only
    assert(pages.head.lines.head.text == "Lorem ipsum")
    assert(pages.head.lines.head.size == 28.0) // the title's font size survives
    assert(pages(1).lines.head.text ==
      "In non mauris justo. Duis vehicula mi vel mi pretium, a viverra erat efficitur. Cras aliquam")
    // tools/pdf_text_oracle.py pdf_sample.pdf --hash
    assert(sha256(fullText(pages)) ==
      "76940ba0f49b28dcabc541e83481df39cc226a1ac05d2b959e937eae3f400887")
  }

  test("pdf_sample_page_nums.pdf: full text matches the independent oracle byte-for-byte") {
    val f = new java.io.File(s"$resources/pdf_sample_page_nums.pdf")
    assume(f.exists(), "reference fixtures not present")
    val pages = PdfText.extract(read(f.getPath)).fold(e => fail(e), identity)
    assert(pages.map(_.lines.size) == Seq(157, 65, 193))
    assert(pages(2).lines.head.text == "6.3")
    // tools/pdf_text_oracle.py pdf_sample_page_nums.pdf --hash
    assert(sha256(fullText(pages)) ==
      "addae31c3c19c992b127394a0657084795b7aa4efcef01dc3e50bd2289514fbd")
  }

  test("writer->interpreter round-trip: literal Tj, hex Tj, kerned TJ, Flate and raw") {
    val docs = Seq(
      Seq(Seq("Doc 1 page 1", "Lorem body 2", "alpha beta-1")),
      Seq(
        Seq("first line", "second line", "third and fourth"),
        Seq("page two a", "page two b", "gamma delta words")),
      Seq(Seq("single")))
    for (pages <- docs; compress <- Seq(true, false)) {
      val bytes = PdfText.buildTextPdf(pages, compress)
      val got = PdfText.pageTexts(bytes).fold(e => fail(e), identity)
      assert(got == pages.map(_.mkString("\n")), s"compress=$compress")
    }
  }

  test("escapes round-trip through literal strings") {
    val lines = Seq("paren (x) and \\slash", "hex <b> line", "tail kern line")
    val got = PdfText.pageTexts(PdfText.buildTextPdf(Seq(lines))).fold(e => fail(e), identity)
    assert(got == Seq(lines.mkString("\n")))
  }

  test("encrypted text PDFs: locked is Left; structure PDFs give empty pages") {
    // buildPdf's pages carry EMPTY content streams: extract succeeds with
    // page count preserved and zero lines
    val plain = PdfBytes.buildPdf(Seq((100.0, 200.0), (300.0, 400.0)), "t", "a")
    val pages = PdfText.extract(plain).fold(e => fail(e), identity)
    assert(pages.length == 2 && pages.forall(_.lines.isEmpty))
    val locked = PdfBytes.buildPdf(Seq((100.0, 200.0)), "t", "a", Some(("pw", 3)))
    assert(PdfText.extract(locked).isLeft)
    assert(PdfText.extract(locked, Some("pw")).isRight)
  }

  test("ToUnicode CMap: bfchar, bfrange with increment, bfrange with array") {
    val cm = ("""/CIDInit/ProcSet findresource begin
      |begincmap
      |1 begincodespacerange
      |<00> <FF>
      |endcodespacerange
      |2 beginbfchar
      |<01> <0041>
      |<02> <00480069>
      |endbfchar
      |1 beginbfrange
      |<10> <12> <0061>
      |endbfrange
      |1 beginbfrange
      |<20> <21> [<005A> <0079>]
      |endbfrange
      |endcmap
      |""").stripMargin.getBytes("ISO-8859-1")
    val m = PdfText.parseToUnicode(cm)
    assert(m(0x01) == "A")
    assert(m(0x02) == "Hi") // multi-unit target
    assert(m(0x10) == "a" && m(0x11) == "b" && m(0x12) == "c")
    assert(m(0x20) == "Z" && m(0x21) == "y")
  }

  test("paragraphs: leading-step and size-jump breaks") {
    import PdfText.Line
    val lines = Seq(
      Line(72, 700, 400, 18, "Heading"),
      Line(72, 670, 400, 12, "body one"),
      Line(72, 655, 400, 12, "body two"),
      Line(72, 600, 400, 12, "new para"))
    val got = PdfText.paragraphs(lines)
    assert(got == Seq("Heading", "body one body two", "new para"))
  }

  test("markdownBlocks: heading inference by size tier over the document median") {
    import PdfText.Line
    val lines = Seq(
      Line(72, 740, 400, 24, "Big Title"),       // 2.0x body → #
      Line(72, 700, 400, 16, "Sub heading"),     // 1.33x body → ##
      Line(72, 670, 400, 12, "body line one"),
      Line(72, 655, 400, 12, "body line two"),
      Line(72, 640, 400, 12, "body line three"))
    val got = PdfText.markdownBlocks(lines, lines)
    assert(got == Seq("# Big Title", "## Sub heading",
      "body line one body line two body line three"))
    // the REAL fixture: the 28pt title becomes a # heading on ingestion
    val f = new java.io.File(s"$resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("pdf_sample.pdf", read(f.getPath)))
    assert(out.spans.exists(_.text == "# Lorem ipsum"))
    assert(out.spans.exists(_.text.startsWith("## Lorem ipsum dolor sit amet")))
  }

  test("REAL fixture image sidecar: the DCT XObject extracts as the JPEG byte-for-byte") {
    val f = new java.io.File(s"$resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val bytes = read(f.getPath)
    val pages = PdfText.extract(bytes).fold(e => fail(e), identity)
    // /Im13 (600x401 DCTDecode, /Length 50761 per the raw object dict —
    // independently confirmed against the file bytes) draws on page 4,
    // where the marker golden places its img-1.jpeg
    val imgs = pages.flatMap(_.images).filter(_.data.nonEmpty)
    assert(imgs.map(i => (i.width, i.height, i.mime, i.data.length)) ==
      Seq((600, 401, "image/jpeg", 50761)))
    assert((imgs.head.data(0) & 0xff) == 0xff && (imgs.head.data(1) & 0xff) == 0xd8) // JFIF SOI
    assert(pages(3).images.nonEmpty && pages.take(3).forall(_.images.forall(_.data.isEmpty)))
    // the ingestion route lifts it into the media sidecar + an image span
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("pdf_sample.pdf", bytes))
    assert(out.media.map(m => (m.media_ref, m.mime_type, m.content.length)) ==
      Seq(("img-0.jpeg", "image/jpeg", 50761)))
    assert(out.spans.exists(s => s.kind == "image" && s.media_ref == "img-0.jpeg"))
  }

  test("writer->interpreter image round-trip: DCT payload passthrough, multi-page") {
    val imgs = Seq(
      Seq(("fake-jpeg-payload-A".getBytes("ISO-8859-1"), 64, 48)),
      Seq(("payload-B".getBytes("ISO-8859-1"), 32, 24),
        ("payload-C".getBytes("ISO-8859-1"), 16, 12)),
      Nil)
    val pages = Seq(Seq("one"), Seq("two"), Seq("three"))
    val bytes = PdfText.buildTextPdf(pages, compress = true, imgs)
    val got = PdfText.extract(bytes).fold(e => fail(e), identity)
    assert(got.map(_.images.size) == Seq(1, 2, 0))
    assert(new String(got.head.images.head.data, "ISO-8859-1") == "fake-jpeg-payload-A")
    assert(got(1).images.map(i => (new String(i.data, "ISO-8859-1"), i.width, i.height)) ==
      Seq(("payload-B", 32, 24), ("payload-C", 16, 12)))
    // text still extracts alongside the image draws
    assert(got.map(_.lines.map(_.text)) == Seq(Seq("one"), Seq("two"), Seq("three")))
  }

  test("Flate DeviceRGB rasters re-encode as PNG with exact pixels") {
    // hand-build a PDF whose image is Flate-compressed raw RGB
    val w0 = 4; val h0 = 3
    val px = Array.tabulate(w0 * h0 * 3)(i => ((i * 37) % 251).toByte)
    val flate = Bin.deflate(px)
    val pdf = new Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 100 100 ] " +
      "/Resources << /XObject << /I 5 0 R >> >> /Contents 4 0 R >>")
    val content = "q 50 0 0 50 10 10 cm /I Do Q"
    pdf.obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    pdf.stream(5, s"<< /Type /XObject /Subtype /Image /Width $w0 /Height $h0 /BitsPerComponent 8 " +
      s"/ColorSpace /DeviceRGB /Filter /FlateDecode /Length ${flate.length} >>", flate)
    val pages = PdfText.extract(pdf.finish("")).fold(e => fail(e), identity)
    val img = pages.head.images.head
    assert(img.mime == "image/png" && img.data.nonEmpty)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(img.data))
    assert(decoded.getWidth == w0 && decoded.getHeight == h0)
    for (y <- 0 until h0; x <- 0 until w0) {
      val i = (y * w0 + x) * 3
      val expect = ((px(i) & 0xff) << 16) | ((px(i + 1) & 0xff) << 8) | (px(i + 2) & 0xff)
      assert((decoded.getRGB(x, y) & 0xffffff) == expect, s"pixel ($x,$y)")
    }
  }

  test("Encodings: WinAnsi high block, MacRoman, glyph names, uniXXXX") {
    import graft.extract.Encodings
    assert(Encodings.base("WinAnsiEncoding")(0x93) == "“")
    assert(Encodings.base("WinAnsiEncoding")(0xe9) == "é")
    assert(Encodings.base("MacRomanEncoding")(0x8e) == "é")
    assert(Encodings.base("MacRomanEncoding")(0xd0) == "–")
    assert(Encodings.base("StandardEncoding")(0xa1) == "¡")
    assert(Encodings.glyphChar("eacute") == "é")
    assert(Encodings.glyphChar("uni20AC") == "€")
    assert(Encodings.glyphChar("u1F600") == new String(Character.toChars(0x1F600)))
    assert(Encodings.glyphChar("nosuchglyphname") == "�")
  }

  // ---------------------------------------------------- embedded TrueType
  test("embedded TrueType: subsetter codes resolve via cmap(1,0) + post + AGL") {
    // no /Encoding, no /ToUnicode; codes assigned by first use — only the
    // font program can decode them
    val pages = Seq(
      Seq("Heading words here", "second line-with hyphen", "digits 0189"),
      Seq("page two text"))
    val pdf = PdfText.buildTextPdfTT(pages, unicodeCmap = false)
    assert(PdfText.pageTexts(pdf) == Right(pages.map(_.mkString("\n"))))
  }

  test("embedded TrueType: (3,1) format-4 cmap resolves via inverse Unicode") {
    val pages = Seq(Seq("Doc 42 page 1", "Lorem body 6", "alpha beta-2"))
    val pdf = PdfText.buildTextPdfTT(pages, unicodeCmap = true)
    assert(PdfText.pageTexts(pdf) == Right(pages.map(_.mkString("\n"))))
  }

  test("TrueType parser: cmap format 0, post standard-name indices, notdef") {
    import graft.extract.TrueType
    // glyph 5 -> standard name "A" (index 36), glyph 6 -> custom
    // "germandbls", code 67 unmapped, glyph 0 never decodes
    val ttf = TrueType.build(
      codeToGlyph = Seq(65 -> 5, 66 -> 6, 68 -> 0),
      glyphNames = Map(5 -> "A", 6 -> "germandbls"),
      macCmapFormat = 0)
    val e = TrueType.parse(ttf).get
    assert(e.decode(65).contains("A"))
    assert(e.decode(66).contains("ß"))
    assert(e.decode(67).isEmpty)
    assert(e.decode(68).isEmpty) // .notdef
  }

  test("TrueType parser: unknown glyph names fall through (caller's U+FFFD)") {
    import graft.extract.TrueType
    val ttf = TrueType.build(
      codeToGlyph = Seq(1 -> 3),
      glyphNames = Map(3 -> "glyph00042"))
    assert(TrueType.parse(ttf).get.decode(1).isEmpty)
    // malformed program: never throws
    assert(TrueType.parse("not a font".getBytes("US-ASCII")).isEmpty)
    assert(TrueType.parse(Array.emptyByteArray).isEmpty)
  }

  test("image spans interleave into reading order by device-space y") {
    // text at y=650, image drawn at y=500, text at y=300 — the image span
    // must land BETWEEN the two text spans (position-derived order, not
    // encounter order: the content stream draws the image LAST)
    val jpeg = "FAKEJPEG".getBytes("ISO-8859-1")
    val content =
      "BT /F1 12 Tf 72 650 Td (above text) Tj ET\n" +
        "BT /F1 12 Tf 72 300 Td (below text) Tj ET\n" +
        "q 200 0 0 100 72 500 cm /Img0 Do Q\n"
    val pdf = new Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /Font << /F1 5 0 R >> /XObject << /Img0 6 0 R >> >> " +
      "/Contents 4 0 R >>")
    pdf.stream(4, s"<< /Length ${content.length} >>", content.getBytes("ISO-8859-1"))
    pdf.obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    pdf.stream(6, s"<< /Type /XObject /Subtype /Image /Width 64 /Height 48 /BitsPerComponent 8 " +
      s"/ColorSpace /DeviceRGB /Filter /DCTDecode /Length ${jpeg.length} >>", jpeg)
    val row = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("ordered.pdf", pdf.finish("")))
    assert(row.failure.isEmpty, row.failure)
    assert(row.spans.map(s => (s.kind, s.text)) == Seq(
      ("page_break", """{"next_page":1}"""),
      ("text", "above text"),
      ("image", "img-0"),
      ("text", "below text")))
    assert(row.media.map(_.media_ref) == Seq("img-0.jpeg"))
  }

  test("embedded chain yields to /ToUnicode and /Encoding (fixture parity)") {
    // fixtures carry FontFile2 WITH full ToUnicode: the embedded chain
    // must not fire — locked by the unchanged golden hashes
    val f = new java.io.File("/root/reference/tests/resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val pages = PdfText.extract(bytes).fold(e => fail(e), identity)
    val full = pages.map(_.lines.map(_.text).mkString("\n")).mkString("\f")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(full.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(sha == "76940ba0f49b28dcabc541e83481df39cc226a1ac05d2b959e937eae3f400887")
  }
}
