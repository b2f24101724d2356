package graft.extract

import graft.md.Markdown
import graft.model.{MediaItem, RawDoc, Span, SpanKind}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** The format table: one row per `payload_kind` (the converter-registry
  * dispatch, converters/registry.py:58-132). A row names the MIME types
  * that ingest to its kind, whether the payload rides in `RawDoc.raw` as
  * UTF-8 text or as ISO-8859-1 bytes (a lossless byte↔char round-trip),
  * and the converter. [[graft.io.Ingest.toRawDoc]] routes files by MIME
  * through it; [[graft.pipeline.Pipeline.extractOne]] converts through it
  * and owns the shared Document assembly around the result (title
  * fallback, provenance, cost metadata — converters/base.py:204-223).
  *
  * The table forms both ends of every row. Spans: each byte converter
  * only parses, into one of three document shapes — flow
  * ([[DocxExtract.DocxDoc]]), slides ([[OfficeExtract.PptxDoc]]) or sheets
  * ([[OfficeExtract.XlsxDoc]]) — or its own stream (EPUB, PDF), and each
  * shape has one renderer. Failures: [[convert]] is the one envelope that
  * turns a thrown converter into a failure string. A closed table, not an
  * extension point.
  */
private[graft] object Formats {

  /** One converter's result before Document assembly; `title` "" = none
    * (the assembly falls back to the source filename stem).
    */
  final case class Converted(
      spans: Seq[Span],
      pageCount: Int,
      title: String,
      media: Seq[MediaItem],
      metadata: Map[String, String])

  final case class Format(
      kind: String,
      mimes: Seq[String],
      binary: Boolean,
      convert: RawDoc => Either[String, Converted]) {
    /** File bytes → the `raw` payload column for this kind. */
    def decode(bytes: Array[Byte]): String = new String(bytes, if (binary) ISO_8859_1 else UTF_8)
  }

  /** A text kind: the converter sees the whole row (raw/pages/elements). */
  private def text(kind: String, mimes: String*)(f: RawDoc => Converted): Format =
    Format(kind, mimes, binary = false, r => Right(f(r)))

  /** A structural markup kind: `toMarkdown` then the plain-markdown grammar. */
  private def markup(kind: String, mimes: String*)(toMarkdown: String => String): Format =
    text(kind, mimes: _*)(r => textDoc(Markdown.parse(toMarkdown(r.raw)), Nil, ""))

  /** A provider markdown dialect (Normalize's marker rewrites). Ingestion
    * reaches these through [[graft.io.Ingest.detectDialect]], never by MIME.
    */
  private def dialect(kind: String, mimes: String*): Format =
    text(kind, mimes: _*)(r => normalized(Normalize.dialect(kind, r.raw, r.pages)))

  /** A byte kind: its own container parse. A `Left` is a failure the
    * converter phrased itself; a throw is phrased by [[convert]].
    */
  private def bytes(kind: String, mimes: String*)(
      f: Array[Byte] => Either[String, Converted]): Format =
    Format(kind, mimes, binary = true, r => f(r.raw.getBytes(ISO_8859_1)))

  /** Flow shape: a page_break marker per page, one span per block. */
  private def flow(d: DocxExtract.DocxDoc, countKey: String, count: Int): Converted =
    Converted(DocxExtract.toSpans(d), d.pageCount, d.title, d.media,
      Map(countKey -> count.toString))

  /** Legacy word processors (RTF, DOC) count their paragraphs. */
  private def paragraphs(d: DocxExtract.DocxDoc): Int =
    d.blocks.count(_.isInstanceOf[DocxExtract.Para])

  /** Slides shape: one page per slide. */
  private def slides(d: OfficeExtract.PptxDoc, countKey: String): Converted =
    Converted(OfficeExtract.pptxSpans(d), d.slides.size, d.title, d.media,
      Map(countKey -> d.slides.size.toString))

  /** Sheets shape: one page per sheet. */
  private def sheets(d: OfficeExtract.XlsxDoc, countKey: String): Converted =
    Converted(OfficeExtract.xlsxSpans(d), d.sheets.size, d.title, Nil,
      Map(countKey -> d.sheets.size.toString))

  private def normalized(n: Normalized): Converted = textDoc(n.spans, n.images, "")

  /** Text-kind assembly: marker-derived page count; sidecar media decoded
    * from the base64 payloads the source embeds (data-URI path).
    */
  private def textDoc(spans: Seq[Span], images: Seq[NormImage], title: String): Converted = {
    val media = images.map { img =>
      val bytes =
        if (img.content_b64.nonEmpty)
          try java.util.Base64.getDecoder.decode(img.content_b64)
          catch { case _: IllegalArgumentException => Array.emptyByteArray }
        else Array.emptyByteArray
      MediaItem(img.filename, img.mime_type, bytes)
    }
    Converted(spans, Markdown.pageCount(spans), title, media, Map.empty)
  }

  /** RFC 4180 delimited text → one pipe table (spreadsheet shape). */
  private def delimited(r: RawDoc, delimiter: Char): Converted = {
    val md = CsvExtract.toTableMd(r.raw, delimiter)
    textDoc(if (md.isEmpty) Nil else Seq(Span(SpanKind.Text, md, "", 0)), Nil, "")
  }

  /** Every kind. MIME citations are the reference's mime_types.py lines. */
  val All: Seq[Format] = Seq(
    text("html", "text/html") { r =>
      val e = HtmlExtract.extract(r.raw); textDoc(e.spans, e.images, e.title)
    },
    text("pdf_layout") { r =>
      val l = PdfLayout.layout(r.elements); textDoc(l.spans, l.images, "")
    },
    // the markdown MIMEs (incl. the pandoc flavours, :102-107) land on the
    // plain dialect; ingestion refines the kind by marker grammar
    dialect("md_plain", "text/markdown", "text/plain", "text/x-commonmark",
      "text/x-gfm", "text/x-markdown", "text/x-markdown-extra", "text/x-multimarkdown"),
    dialect("md_azure"), dialect("md_datalab"), dialect("md_slides"),
    dialect("md_datauri"), dialect("md_pages"), dialect("md_upstage"),
    dialect("md_docling"),
    markup("rst", "text/x-rst")(RstExtract.toMarkdown),
    markup("org", "text/x-org")(OrgExtract.toMarkdown), // :109,157
    // :91,163; biblatex (:89) shares BibTeX's @type{key, field=value} grammar
    markup("bibtex", "application/x-bibtex", "application/x-biblatex")(BibtexExtract.toMarkdown),
    markup("ris", "application/x-research-info-systems")(RisExtract.toMarkdown), // :98
    markup("csljson", "application/csl+json")(CslJsonExtract.toMarkdown), // :83
    markup("endnote", "application/x-endnote+xml")(EndnoteExtract.toMarkdown), // :92
    markup("docbook", "application/docbook+xml")(DocbookExtract.toMarkdown), // :84
    markup("fb2", "application/x-fictionbook+xml")(Fb2Extract.toMarkdown), // :86
    markup("jats", "application/x-jats+xml")(JatsExtract.toMarkdown), // :96
    markup("opml", "application/x-opml+xml")(OpmlExtract.toMarkdown), // :97
    markup("typst", "application/x-typst")(TypstExtract.toMarkdown), // :99
    markup("troff", "text/troff")(TroffExtract.toMarkdown), // :101
    markup("dokuwiki", "text/x-dokuwiki")(DokuwikiExtract.toMarkdown), // :100
    markup("mdoc", "text/x-mdoc")(MdocExtract.toMarkdown), // :103
    markup("pod", "text/x-pod")(PodExtract.toMarkdown), // :104
    markup("latex", "application/x-latex")(LatexExtract.toMarkdown), // :97,165
    markup("ipynb", "application/x-ipynb+json")(IpynbExtract.toMarkdown), // :93,164
    // delimited text (llamaparse_provider/provider.py:57-58)
    text("csv", "text/csv")(delimited(_, ',')),
    text("tsv", "text/tab-separated-values")(delimited(_, '\t')),
    bytes("pdf_bytes", "application/pdf")(pdf),
    bytes("docx_bytes",
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document") { b =>
      val d = DocxExtract.extract(b); Right(flow(d, "docx_blocks", d.blocks.size))
    },
    // one page per slide, title placeholders as headings
    bytes("pptx_bytes",
      "application/vnd.openxmlformats-officedocument.presentationml.presentation")(
      b => Right(slides(OfficeExtract.extractPptx(b), "pptx_slides"))),
    // .xlsm/.xlam are the XLSX ZIP plus a vbaProject part the sheet parser
    // never opens (EXCEL_MACRO / EXCEL_ADDON, :21,23)
    bytes("xlsx_bytes", "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
      "application/vnd.ms-excel.sheet.macroEnabled.12",
      "application/vnd.ms-excel.addin.macroEnabled.12")(
      b => Right(sheets(OfficeExtract.extractXlsx(b), "xlsx_sheets"))),
    // spine order, each XHTML chapter through HtmlExtract; one page each
    bytes("epub_bytes", "application/epub+zip") { b =>
      val d = EpubExtract.extract(b)
      Right(Converted(d.spans, d.chapters.size, d.title, d.media,
        Map("epub_chapters" -> d.chapters.size.toString)))
    },
    bytes("odt_bytes", "application/vnd.oasis.opendocument.text") { b =>
      val d = OdtExtract.extract(b); Right(flow(d, "odt_blocks", d.blocks.size))
    },
    bytes("rtf_bytes", "application/rtf")(
      RtfExtract.extract(_).map(d => flow(d, "rtf_paragraphs", paragraphs(d)))),
    // CFB + [MS-DOC] piece table, in the RTF-equivalent span shape
    bytes("doc_bytes", "application/msword")(
      DocExtract.extract(_).map(d => flow(d, "doc_paragraphs", paragraphs(d)))),
    // CFB + [MS-PPT] record tree; one page per Slide container
    bytes("ppt_bytes", "application/vnd.ms-powerpoint")(
      PptExtract.extract(_).map(slides(_, "ppt_slides"))),
    bytes("ods_bytes", "application/vnd.oasis.opendocument.spreadsheet")(
      b => Right(sheets(OdsExtract.extract(b), "ods_sheets"))),
    // CFB + [MS-XLS] BIFF8; .xla, the 97-2003 add-in, is a BIFF8 workbook
    // too (EXCEL_TEMPLATE, :23)
    bytes("xls_bytes", "application/vnd.ms-excel",
      "application/vnd.ms-excel.template.macroEnabled.12")(
      XlsExtract.extract(_).map(sheets(_, "xls_sheets"))),
    // [MS-XLSB] BIFF12 records inside the OOXML ZIP (EXCEL_BINARY_2007, :22)
    bytes("xlsb_bytes", "application/vnd.ms-excel.sheet.binary.macroEnabled.12")(
      b => Right(sheets(XlsbExtract.extract(b), "xlsb_sheets"))))

  private val ByKind: Map[String, Format] = All.map(f => f.kind -> f).toMap

  private val ByMime: Map[String, Format] = All.flatMap(f => f.mimes.map(_ -> f)).toMap

  def forMime(mime: String): Option[Format] = ByMime.get(mime)

  /** Converts `r` by its kind: the one failure envelope. A converter's
    * own `Left` passes verbatim. A throw — including an unknown kind, and a
    * stack overflow as the backstop for any recursive parser — becomes
    * `<fmt>_parse_error: <Class>: <msg>` for a byte kind (`fmt` = the kind
    * without `_bytes`), and bare `<Class>: <msg>` for a text or unknown
    * kind. Other `Error`s are not caught.
    */
  def convert(r: RawDoc): Either[String, Converted] = {
    val format = ByKind.get(r.payload_kind)
    try format.getOrElse(
      throw new IllegalArgumentException(s"unknown dialect: ${r.payload_kind}")).convert(r)
    catch {
      case e @ (_: Exception | _: StackOverflowError) =>
        Left(format.filter(_.binary)
          .fold(describe(e))(f => parseError(f.kind.stripSuffix("_bytes"), e)))
    }
  }

  /** How a thrown failure reads in a row: `<Class>: <msg>`. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** The parse-failure template, shared with the entry points that return
    * their own `Left` (the PDF tools, the compound-file reader).
    */
  private[graft] def parseError(fmt: String, e: Throwable): String =
    s"${fmt}_parse_error: ${describe(e)}"

  /** PDF bytes, opened once: [[PdfBytes.info]] walks the page tree for
    * structure (page count, Info title, dims, encryption flag) and the
    * [[PdfText]] content-stream interpreter reads the page TEXT from the same
    * document and page list — each page emits its page_break marker
    * followed by one text span per assembled paragraph (reading-order lines
    * merged on leading/size steps). Byte-extractable image XObjects
    * (JPEG/JPX passthrough, Flate→PNG, CCITT G4 scans) are spliced into the
    * page's reading order at their device-space y as image spans + img-K
    * media items; images needing codecs the container lacks (JBIG2, G3)
    * keep interpreter placeholders only — a media span without a payload
    * would break the sidecar contract (documented bound, not a fake).
    * A locked PDF is a successful row with page_count 0 (the reference's
    * basic encrypted shape); a corrupt one is a failure row; a
    * structure-parseable file whose content streams fail to interpret
    * degrades to the page_break skeleton with the error in metadata.
    */
  private def pdf(bytes: Array[Byte]): Either[String, Converted] = {
    val opened = PdfBytes.open(bytes, None)
    val (info, pageDicts) = PdfBytes.info(bytes, opened)
    val (pages: Seq[PdfText.PageContent], textError: String) = opened match {
      case Right(doc) => PdfText.contents(doc, pageDicts) match {
        case Right(ps) => (ps, "")
        case Left(err) => (Nil, err)
      }
      case Left(_) => (Nil, "")
    }
    // img-K numbering follows the final position-derived order, not raw
    // encounter order: the reference's converters interleave images at
    // layout position (test_output.ambr:49)
    val media = scala.collection.mutable.ArrayBuffer[MediaItem]()
    val out = scala.collection.mutable.ArrayBuffer[Span]()
    val allLines = pages.flatMap(_.lines) // document-wide body-size basis
    (1 to info.pageCount).foreach { i =>
      out += Markdown.pageBreakSpan(i, out.length)
      pages.lift(i - 1).foreach { p =>
        val paras: Seq[(Double, Either[String, PdfText.ImageRef])] =
          PdfText.markdownBlocksWithY(p.lines, allLines)
            .map { case (t, y) => (t.trim, y) }
            .collect { case (t, y) if t.nonEmpty => (y, Left(t)) }
        val imgs: Seq[(Double, Either[String, PdfText.ImageRef])] =
          p.images.filter(_.data.nonEmpty).map(im => (im.y, Right(im)))
        // stable sort: at equal y, text (listed first) precedes images
        (paras ++ imgs).sortBy(-_._1).foreach {
          case (_, Left(text)) =>
            out += Span(SpanKind.Text, text, "", out.length)
          case (_, Right(im)) =>
            val ext = im.mime match {
              case "image/jpeg" => "jpeg"
              case "image/jp2" => "jp2"
              case _ => "png"
            }
            val filename = s"img-${media.length}.$ext"
            media += MediaItem(filename, im.mime, im.data)
            out += Span(SpanKind.Image,
              filename.substring(0, filename.lastIndexOf('.')), filename, out.length)
        }
      }
    }
    val metadata = Map(
      "pdf_file_size" -> info.fileSize.toString,
      "pdf_encrypted" -> info.isEncrypted.toString) ++
      info.pageDims.headOption.map(d => Map(
        "pdf_width0" -> d.width.toString,
        "pdf_height0" -> d.height.toString)).getOrElse(Map.empty) ++
      (if (textError.nonEmpty) Map("pdf_text_error" -> textError) else Map.empty)
    Right(Converted(out.toSeq, info.pageCount, info.title, media.toSeq, metadata))
  }
}
