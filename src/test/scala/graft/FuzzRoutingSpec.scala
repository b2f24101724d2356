package graft

import graft.io.Ingest
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-input robustness over EVERY non-image supported MIME: the
  * extraction contract is "malformed input is a failure ROW" — no route
  * may throw past extractOne, hang, or loop unboundedly on random bytes,
  * truncations, or bit-flipped variants of a valid document. (The byte
  * parsers carry anti-DoS guards — zip-bomb caps, CFB chain bounds,
  * CCITT progress checks — this spec drives the whole family through the
  * same gauntlet.)
  */
class FuzzRoutingSpec extends AnyFunSuite {

  // a deterministic PRNG: reproducible corpus, no wall-clock dependence
  private def rng(seed: Long) = new scala.util.Random(seed)

  // a small plausible sample per MIME so truncation/mutation has real
  // structure to corrupt (random bytes alone rarely reach deep parsing)
  private val samples: Map[String, Array[Byte]] = {
    def s(x: String) = x.getBytes("UTF-8")
    Map(
      "text/x-rst" -> s("Title\n=====\n\nBody ``x``\n"),
      "text/x-org" -> s("#+TITLE: T\n* H\n| a | b |\n|---+---|\n"),
      "application/x-bibtex" -> s("@article{k, title={T}, year=1999}"),
      "application/x-biblatex" -> s("@online{w, title = {W}}"),
      "application/x-ipynb+json" ->
        s("""{"nbformat":4,"cells":[{"cell_type":"markdown","source":["# H"]}]}"""),
      "application/x-latex" -> s("\\section{S}\nBody \\textbf{b}.\n"),
      "application/x-research-info-systems" -> s("TY  - JOUR\nTI  - T\nER  -\n"),
      "application/csl+json" -> s("""[{"id":"a","type":"book","title":"T"}]"""),
      "application/x-endnote+xml" ->
        s("<xml><records><record><titles><title>T</title></titles></record></records></xml>"),
      "application/docbook+xml" -> s("<article><title>T</title><para>P</para></article>"),
      "application/x-fictionbook+xml" ->
        s("<FictionBook><body><section><p>P</p></section></body></FictionBook>"),
      "application/x-jats+xml" ->
        s("<article><body><sec><title>S</title><p>P</p></sec></body></article>"),
      "application/x-opml+xml" ->
        s("""<opml><head><title>O</title></head><body><outline text="x"/></body></opml>"""),
      "application/x-typst" -> s("= T\nBody *b*.\n```\nraw\n```\n"),
      "text/troff" -> s(".TH T 1\n.SH NAME\nt \\- x\n.nf\ncode\n.fi\n"),
      "text/x-mdoc" -> s(".Dt T 1\n.Sh NAME\n.Nm t\n.Bd -literal\nx\n.Ed\n"),
      "text/x-dokuwiki" -> s("====== T ======\nBody //i//\n<code>\nx\n</code>\n"),
      "text/x-pod" -> s("=head1 T\n\nBody B<b>.\n\n=over 4\n\n=item *\n\nI.\n\n=back\n"),
      "text/csv" -> s("a,b\n1,\"x,y\"\n"),
      "text/tab-separated-values" -> s("a\tb\n1\t2\n"))
  }

  private def runOne(mime: String, bytes: Array[Byte]): Unit = {
    val out = Pipeline.extractOne(Ingest.toRawDoc("f.bin", bytes, mime))
    // contract: either clean spans or a failure row — never an escape
    assert(out.failure.nonEmpty || out.spans != null, mime)
  }

  test("random bytes: every non-image route returns, failure row or clean") {
    val mimes = graft.ops.DocOps.SupportedMimeTypes
      .filterNot(_.startsWith("image/")).toSeq.sorted
    val r = rng(0x5eed)
    for (mime <- mimes; trial <- 0 until 8) {
      val n = 1 + r.nextInt(4096)
      val junk = Array.fill(n)(r.nextInt(256).toByte)
      val t0 = System.nanoTime()
      runOne(mime, junk)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 30000, s"$mime trial $trial took ${ms}ms on random bytes")
    }
  }

  test("truncations of valid documents never escape") {
    val r = rng(0xcafe)
    for ((mime, full) <- samples; _ <- 0 until 6) {
      val cut = 1 + r.nextInt(math.max(1, full.length - 1))
      runOne(mime, full.take(cut))
    }
  }

  test("random byte flips in valid documents never escape") {
    val r = rng(0xf00d)
    for ((mime, full) <- samples; _ <- 0 until 10) {
      val mutated = full.clone()
      val flips = 1 + r.nextInt(4)
      for (_ <- 0 until flips)
        mutated(r.nextInt(mutated.length)) = r.nextInt(256).toByte
      runOne(mime, mutated)
    }
  }

  /** One small valid document per byte container (MIME, tag, bytes). */
  private lazy val containers: Seq[(String, String, Array[Byte])] = {
    import graft.extract._
    Seq(
      ("application/pdf", "pdf",
        PdfText.buildTextPdf(Seq(Seq("Page one text"), Seq("Page two")))),
      ("application/vnd.openxmlformats-officedocument.wordprocessingml.document",
        "docx", DocxExtract.buildDocx("T", Seq(DocxExtract.Para("# Head"),
          DocxExtract.Para("Body text")))),
      ("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
        "xlsx", OfficeExtract.buildXlsx("T", Seq(("S", Seq(Seq("a", "1")))))),
      ("application/epub+zip", "epub",
        EpubExtract.buildEpub("T", Seq("<html><body><p>ch</p></body></html>"))),
      ("application/vnd.oasis.opendocument.spreadsheet", "ods",
        OdsExtract.buildOds("T", Seq(("S", Seq(Seq("a", "1")))))),
      ("application/msword", "doc", DocExtract.buildDoc("T", Seq("Para one"))),
      ("application/vnd.ms-powerpoint", "ppt",
        PptExtract.buildPpt("T", Seq(("Slide", Seq("line"))))),
      ("application/vnd.ms-excel", "xls",
        XlsExtract.buildXls("T", Seq(("S", Seq(Seq(XlsExtract.XlsStr("a"))))))),
      ("application/vnd.ms-excel.sheet.binary.macroEnabled.12", "xlsb",
        XlsbExtract.buildXlsb("T", Seq(("S", Seq(Seq(XlsExtract.XlsStr("a"))))))),
      ("application/rtf", "rtf",
        RtfExtract.buildRtf("T", Seq("Body")).getBytes("ISO-8859-1")))
  }

  test("bit-flipped REAL containers (zip/CFB/PDF family) never escape") {
    val r = rng(0xbeef)
    for ((mime, tag, full) <- containers; trial <- 0 until 12) {
      val mutated = full.clone()
      val flips = 1 + r.nextInt(6)
      for (_ <- 0 until flips)
        mutated(r.nextInt(mutated.length)) = r.nextInt(256).toByte
      val t0 = System.nanoTime()
      runOne(mime, mutated)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 30000, s"$tag trial $trial took ${ms}ms")
      // truncation sweep too: container indexes point past EOF
      runOne(mime, full.take(1 + r.nextInt(full.length)))
    }
  }

  /** Failure rows are user-visible lineage: their exact text is pinned
    * (recorded from the converters before the format table formed them).
    */
  test("failure strings are pinned for every byte kind, an unknown and a text kind") {
    import graft.extract._
    val all = containers ++ Seq(
      ("application/vnd.openxmlformats-officedocument.presentationml.presentation", "pptx",
        OfficeExtract.buildPptx("T", Seq(OfficeExtract.Slide("S", Seq("line"))))),
      ("application/vnd.oasis.opendocument.text", "odt",
        OdtExtract.buildOdt("T", Seq(DocxExtract.Para("Body text")))))
    assert(all.map(_._2).distinct.size == 12)
    // a well-formed compound file without any format's streams: the CFB
    // kinds fail inside their own parse, past the container reader
    val bareCfb = CfbExtract.build(Seq("x" -> "x".getBytes("UTF-8")))
    val got: Seq[(String, String)] = all.flatMap { case (mime, tag, full) =>
      Seq("junk" -> "junk".getBytes("UTF-8"), "empty" -> Array.emptyByteArray,
        "half" -> full.take(full.length / 2), "cfb" -> bareCfb).map { case (input, bytes) =>
        s"$tag/$input" ->
          Pipeline.extractOne(Ingest.toRawDoc("f.bin", bytes, mime)).failure
      }
    } ++ Seq(
      "unknown" -> Pipeline.extractOne(
        Ingest.toRawDoc("f.bin", "x".getBytes("UTF-8"), "application/x-unknown")).failure,
      "csljson/object" -> Pipeline.extractOne(
        Ingest.toRawDoc("f.json", "{}".getBytes("UTF-8"), "application/csl+json")).failure)
    val expected: Map[String, String] = Map(
      "pdf/junk" -> "pdf_parse_error: IllegalStateException: no startxref",
      "pdf/empty" -> "pdf_parse_error: IllegalStateException: no startxref",
      "pdf/half" -> "pdf_parse_error: IllegalStateException: no startxref",
      "pdf/cfb" -> "pdf_parse_error: IllegalStateException: no startxref",
      "docx/junk" -> "docx_parse_error: IllegalStateException: no word/document.xml",
      "docx/empty" -> "docx_parse_error: IllegalStateException: no word/document.xml",
      "docx/half" -> "docx_parse_error: EOFException: Unexpected end of ZLIB input stream",
      "docx/cfb" -> "docx_parse_error: IllegalStateException: no word/document.xml",
      "xlsx/junk" -> "xlsx_parse_error: IllegalStateException: no xl/workbook.xml",
      "xlsx/empty" -> "xlsx_parse_error: IllegalStateException: no xl/workbook.xml",
      "xlsx/half" -> "xlsx_parse_error: EOFException: Unexpected end of ZLIB input stream",
      "xlsx/cfb" -> "xlsx_parse_error: IllegalStateException: no xl/workbook.xml",
      "epub/junk" -> "epub_parse_error: IllegalStateException: no META-INF/container.xml",
      "epub/empty" -> "epub_parse_error: IllegalStateException: no META-INF/container.xml",
      "epub/half" -> "epub_parse_error: EOFException: Unexpected end of ZLIB input stream",
      "epub/cfb" -> "epub_parse_error: IllegalStateException: no META-INF/container.xml",
      "ods/junk" -> "ods_parse_error: IllegalStateException: no content.xml",
      "ods/empty" -> "ods_parse_error: IllegalStateException: no content.xml",
      "ods/half" -> "",
      "ods/cfb" -> "ods_parse_error: IllegalStateException: no content.xml",
      "doc/junk" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "doc/empty" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "doc/half" -> "cfb_parse_error: IndexOutOfBoundsException: Range [2048, 2048 + -512) out of bounds for length 1536",
      "doc/cfb" -> "doc_parse_error: IllegalStateException: no WordDocument stream",
      "ppt/junk" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "ppt/empty" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "ppt/half" -> "cfb_parse_error: IndexOutOfBoundsException: Range [2048, 2048 + -768) out of bounds for length 1280",
      "ppt/cfb" -> "ppt_parse_error: IllegalStateException: no PowerPoint Document stream",
      "xls/junk" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "xls/empty" -> "cfb_parse_error: IllegalArgumentException: requirement failed: truncated header",
      "xls/half" -> "cfb_parse_error: IndexOutOfBoundsException: Range [2048, 2048 + -768) out of bounds for length 1280",
      "xls/cfb" -> "xls_parse_error: IllegalStateException: no Workbook stream",
      "xlsb/junk" -> "xlsb_parse_error: IllegalStateException: no xl/workbook.bin part",
      "xlsb/empty" -> "xlsb_parse_error: IllegalStateException: no xl/workbook.bin part",
      "xlsb/half" -> "",
      "xlsb/cfb" -> "xlsb_parse_error: IllegalStateException: no xl/workbook.bin part",
      "rtf/junk" -> "rtf_parse_error: not an RTF document (missing {\\rtf header)",
      "rtf/empty" -> "rtf_parse_error: not an RTF document (missing {\\rtf header)",
      "rtf/half" -> "",
      "rtf/cfb" -> "rtf_parse_error: not an RTF document (missing {\\rtf header)",
      "pptx/junk" -> "pptx_parse_error: IllegalStateException: no ppt/slides/slideN.xml",
      "pptx/empty" -> "pptx_parse_error: IllegalStateException: no ppt/slides/slideN.xml",
      "pptx/half" -> "pptx_parse_error: EOFException: Unexpected end of ZLIB input stream",
      "pptx/cfb" -> "pptx_parse_error: IllegalStateException: no ppt/slides/slideN.xml",
      "odt/junk" -> "odt_parse_error: IllegalStateException: no content.xml",
      "odt/empty" -> "odt_parse_error: IllegalStateException: no content.xml",
      "odt/half" -> "",
      "odt/cfb" -> "odt_parse_error: IllegalStateException: no content.xml",
      "unknown" -> "IllegalArgumentException: unknown dialect: unsupported:application/x-unknown",
      "csljson/object" -> "IllegalArgumentException: csl-json: not a non-empty array")
    val wrong = got.filter { case (id, f) => !expected.get(id).contains(f) }
    assert(wrong.isEmpty, wrong.map { case (id, f) => s"\n  \"$id\" -> \"$f\"" }.mkString)
    assert(got.size == expected.size)
  }

  test("pathological nesting and unterminated constructs stay bounded") {
    // 2,000 unclosed elements: the reader's depth cap fails the document
    val deepXml = Seq(
      ("application/docbook+xml",
        "<article>" + "<section><title>x</title>" * 2000 + "</article>"),
      ("application/x-jats+xml",
        "<article><body>" + "<sec><title>s</title>" * 2000 + "</body></article>"),
      ("application/x-opml+xml",
        "<opml><body>" + "<outline text='x'>" * 2000 + "</body></opml>"),
      ("application/x-fictionbook+xml",
        "<FictionBook><body>" + "<section><title><p>x</p></title>" * 2000 + "</body></FictionBook>"),
      ("application/x-endnote+xml",
        "<xml><records>" + "<record><titles><title>t</title></titles>" * 2000 + "</records></xml>"))
    for ((mime, text) <- deepXml) {
      val t0 = System.nanoTime()
      val out = Pipeline.extractOne(Ingest.toRawDoc("f.bin", text.getBytes("UTF-8"), mime))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 30000, s"$mime pathological case took ${ms}ms")
      assert(out.failure.startsWith("XMLStreamException: Maximum Element Depth limit (1000) Exceeded"),
        s"$mime: ${out.failure}")
    }
    val cases = Seq(
      ("text/x-pod", "=over 4\n" * 3000 + "\n=item *\n\nx\n"),
      ("application/x-typst", "```\n" + "x\n" * 5000), // unterminated fence
      ("text/troff", ".nf\n" + "x\n" * 5000),          // unterminated .nf
      ("application/x-latex", "\\begin{itemize}\n" * 2000 + "\\item x\n"),
      ("text/x-dokuwiki", "  * x\n" * 5000),
      ("application/x-bibtex", "@a{k, t={" + "{" * 5000 + "}"),
      // ASCII-only, so the UTF-8 round-trip keeps the bytes
      ("application/pdf", new String(HostilePdfs.nestedArrays(5000), "ISO-8859-1")))
    for ((mime, text) <- cases) {
      val t0 = System.nanoTime()
      runOne(mime, text.getBytes("UTF-8"))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 30000, s"$mime pathological case took ${ms}ms")
    }
    // 50,000 nested lists with 50,000 items would render each item line
    // indented by its depth, quadratic output: every list site caps the
    // depth at Bin.MaxNesting and fails the document instead
    val deepLists = Seq(
      ("text/x-mdoc", ".Bl -bullet\n" * 50000 + ".It x\n" * 50000),
      ("text/x-pod", "=over\n\n" * 50000 + "=item *\n\nx\n\n" * 50000),
      ("application/x-typst", " " * 600 + "- x\n"),
      ("text/x-dokuwiki", " " * 600 + "* x\n"),
      ("application/docbook+xml", "<article>" + "<itemizedlist>" * 300 + "</itemizedlist>" * 300 + "</article>"),
      ("application/x-jats+xml", "<article><body>" + "<list>" * 300 + "</list>" * 300 + "</body></article>"))
    for ((mime, text) <- deepLists) {
      val t0 = System.nanoTime()
      val out = Pipeline.extractOne(Ingest.toRawDoc("f.bin", text.getBytes("UTF-8"), mime))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 30000, s"$mime deep lists took ${ms}ms")
      assert(out.failure == "IllegalStateException: lists nested deeper than 256", s"$mime: ${out.failure}")
    }
    val nested = Pipeline.extractOne(
      Ingest.toRawDoc("nested.pdf", HostilePdfs.nestedArrays(5000)))
    assert(nested.failure.startsWith(
      "pdf_parse_error: IllegalStateException: objects nested deeper than 256"), nested.failure)
    // 20,000 nested PPT container records (160 KB): a depth-capped failure
    // row, not a stack overflow
    val pptStream = new graft.extract.Bin.Sink(160000)
    for (k <- 0 until 20000) pptStream.u16le(0xF).u16le(0x03E8).u32le((20000L - k - 1) * 8)
    val deepPpt = graft.extract.CfbExtract.build(Seq("PowerPoint Document" -> pptStream.toArray))
    // 200,000 unclosed <div>s; 200,000 opens then as many unmatched
    // closes; 100,000 <b>s each closed under a newer <i>: linear in the
    // tag count
    val timed = Seq(
      ("application/vnd.ms-powerpoint", deepPpt),
      ("text/html", ("<html><body>" + "<div>" * 200000 + "x").getBytes("UTF-8")),
      ("text/html", ("<html><body>" + "<div>" * 200000 + "</span>" * 200000).getBytes("UTF-8")),
      ("text/html", ("<html><body>" + "<b>" * 100000 + "<i></b>" * 100000 + "x").getBytes("UTF-8")))
    for ((mime, bytes) <- timed) {
      val t0 = System.nanoTime()
      val out = Pipeline.extractOne(Ingest.toRawDoc("f.bin", bytes, mime))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 10000, s"$mime pathological case took ${ms}ms")
      if (mime == "application/vnd.ms-powerpoint")
        assert(out.failure.startsWith(
          "ppt_parse_error: IllegalStateException: records nested deeper than 256"), out.failure)
    }
    // 1 KiB compound file whose DIFAT sector 0 chains to itself: with the
    // header's numFat = numDifat = 2^31 - 1 the walk used to grow its FAT
    // list until the heap died; with numFat = 1 it spun 2^31 hops
    for (numFat <- Seq(0x7FFFFFFF, 1)) {
      val cfb = new graft.extract.Bin.Sink(1024)
        .u32le(0xE011CFD0L).u32le(0xE11AB1A1L)
        .padTo(30).u16le(9) // sector shift
        .padTo(44).u32le(numFat)
        .padTo(68).u32le(0).u32le(0x7FFFFFFF) // first DIFAT sector, DIFAT count
        .padTo(1024).toArray // every DIFAT slot 0, sector 0's next-link 0 too
      val t0 = System.nanoTime()
      val out = Pipeline.extractOne(Ingest.toRawDoc("cycle.doc", cfb, "application/msword"))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(out.failure.startsWith("cfb_parse_error"), s"numFat $numFat: ${out.failure}")
      assert(ms < 30000, s"DIFAT cycle (numFat $numFat) took ${ms}ms")
    }
  }

  test("one hostile PDF in a batch is one failure row, not an aborted job") {
    val spark = Pipeline.session("local[4]", 4, "graft-test")
    import spark.implicits._
    val nested = HostilePdfs.nestedArrays(5000)
    val rows = Pipeline.extract(Seq(
      Ingest.toRawDoc("ok.md", "# Fine\n\nbody".getBytes("UTF-8")),
      Ingest.toRawDoc("nested.pdf", nested)).toDS()).collect()
    assert(rows.length == 2)
    assert(rows.count(_.failure.nonEmpty) == 1)
    assert(rows.find(_.doc_id == "nested.pdf").exists(_.failure.startsWith("pdf_parse_error")))
    // q_pdf_info's kernel over the same bytes
    val info = graft.ops.Multimodal.extractPdfInfo(Seq(graft.ops.Multimodal.MediaRow(
      "d", "nested.pdf", "application/pdf", nested)).toDS()).collect()
    assert(info.map(_.decode_error.takeWhile(_ != ':')).toSeq == Seq("pdf_parse_error"))
  }
}
