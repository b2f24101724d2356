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
  * fallback, provenance, cost metadata, failure rows —
  * converters/base.py:204-223). A closed table, not an extension point.
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
    text(kind, mimes: _*)(r => normalized(Normalize.dialect("md_plain", toMarkdown(r.raw), r.pages)))

  /** A provider markdown dialect (Normalize's marker rewrites). Ingestion
    * reaches these through [[graft.io.Ingest.detectDialect]], never by MIME.
    */
  private def dialect(kind: String, mimes: String*): Format =
    text(kind, mimes: _*)(r => normalized(Normalize.dialect(kind, r.raw, r.pages)))

  /** A byte kind: its own container parse; `Left` is a failure row. */
  private def bytes(kind: String, mimes: String*)(
      f: Array[Byte] => Either[String, Converted]): Format =
    Format(kind, mimes, binary = true, r => f(r.raw.getBytes(ISO_8859_1)))

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
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document")(
      DocxExtract.extract(_).map(d => Converted(DocxExtract.toSpans(d), d.pageCount,
        d.title, d.media, Map("docx_blocks" -> d.blocks.size.toString)))),
    // one page per slide, title placeholders as headings
    bytes("pptx_bytes",
      "application/vnd.openxmlformats-officedocument.presentationml.presentation")(
      OfficeExtract.extractPptx(_).map(d => Converted(OfficeExtract.pptxSpans(d),
        d.slides.size, d.title, d.media, Map("pptx_slides" -> d.slides.size.toString)))),
    // .xlsm/.xlam are the XLSX ZIP plus a vbaProject part the sheet parser
    // never opens (EXCEL_MACRO / EXCEL_ADDON, :21,23)
    bytes("xlsx_bytes", "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
      "application/vnd.ms-excel.sheet.macroEnabled.12",
      "application/vnd.ms-excel.addin.macroEnabled.12")(
      OfficeExtract.extractXlsx(_).map(d => Converted(OfficeExtract.xlsxSpans(d),
        d.sheets.size, d.title, Nil, Map("xlsx_sheets" -> d.sheets.size.toString)))),
    // spine order, each XHTML chapter through HtmlExtract; one page each
    bytes("epub_bytes", "application/epub+zip")(
      EpubExtract.extract(_).map(d => Converted(d.spans, d.chapters.size, d.title,
        d.media, Map("epub_chapters" -> d.chapters.size.toString)))),
    bytes("odt_bytes", "application/vnd.oasis.opendocument.text")(
      OdtExtract.extract(_).map(d => Converted(OdtExtract.toSpans(d), d.pageCount,
        d.title, d.media, Map("odt_blocks" -> d.blocks.size.toString)))),
    bytes("rtf_bytes", "application/rtf")(
      RtfExtract.extract(_).map(d => Converted(RtfExtract.toSpans(d), d.pageCount,
        d.title, Nil, Map("rtf_paragraphs" -> d.paragraphs.size.toString)))),
    // CFB + [MS-DOC] piece table, in the RTF-equivalent span shape
    bytes("doc_bytes", "application/msword")(
      DocExtract.extract(_).map(d => Converted(
        RtfExtract.toSpans(RtfExtract.RtfDoc(d.title, d.paragraphs, d.pageBreaks)),
        d.pageCount, d.title, Nil, Map("doc_paragraphs" -> d.paragraphs.size.toString)))),
    // CFB + [MS-PPT] record tree; one page per Slide container
    bytes("ppt_bytes", "application/vnd.ms-powerpoint")(
      PptExtract.extract(_).map(d => Converted(PptExtract.toSpans(d), d.slides.size,
        d.title, Nil, Map("ppt_slides" -> d.slides.size.toString)))),
    bytes("ods_bytes", "application/vnd.oasis.opendocument.spreadsheet")(
      OdsExtract.extract(_).map(d => Converted(OdsExtract.toSpans(d), d.sheets.size,
        d.title, Nil, Map("ods_sheets" -> d.sheets.size.toString)))),
    // CFB + [MS-XLS] BIFF8; .xla, the 97-2003 add-in, is a BIFF8 workbook
    // too (EXCEL_TEMPLATE, :23)
    bytes("xls_bytes", "application/vnd.ms-excel",
      "application/vnd.ms-excel.template.macroEnabled.12")(
      XlsExtract.extract(_).map(d => Converted(OfficeExtract.xlsxSpans(d),
        d.sheets.size, d.title, Nil, Map("xls_sheets" -> d.sheets.size.toString)))),
    // [MS-XLSB] BIFF12 records inside the OOXML ZIP (EXCEL_BINARY_2007, :22)
    bytes("xlsb_bytes", "application/vnd.ms-excel.sheet.binary.macroEnabled.12")(
      XlsbExtract.extract(_).map(d => Converted(OfficeExtract.xlsxSpans(d),
        d.sheets.size, d.title, Nil, Map("xlsb_sheets" -> d.sheets.size.toString)))))

  private val ByKind: Map[String, Format] = All.map(f => f.kind -> f).toMap

  private val ByMime: Map[String, Format] = All.flatMap(f => f.mimes.map(_ -> f)).toMap

  def forMime(mime: String): Option[Format] = ByMime.get(mime)

  /** Converts `r` by its kind; an unknown kind throws, like Normalize's
    * dialect dispatch, so the assembly's catch turns it into a failure row.
    */
  def convert(r: RawDoc): Either[String, Converted] =
    ByKind.getOrElse(r.payload_kind,
      throw new IllegalArgumentException(s"unknown dialect: ${r.payload_kind}")).convert(r)

  /** PDF bytes: [[PdfBytes]] container parse for structure (page count,
    * Info title, dims, encryption flag) plus the [[PdfText]] content-stream
    * interpreter for the page TEXT — each page emits its page_break marker
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
  private def pdf(bytes: Array[Byte]): Either[String, Converted] =
    PdfBytes.pdfInfo(bytes).map { info =>
      val (pages: Seq[PdfText.PageContent], textError: String) =
        if (info.isEncrypted || info.pageCount == 0) (Nil, "")
        else PdfText.extract(bytes) match {
          case Right(ps) => (ps, "")
          case Left(err) => (Nil, err)
        }
      // img-K numbering follows the final position-derived order, not raw
      // encounter order: the reference's converters interleave images at
      // layout position (test_output.ambr:49)
      val media = scala.collection.mutable.ArrayBuffer[MediaItem]()
      val out = scala.collection.mutable.ArrayBuffer[Span]()
      val allLines = pages.flatMap(_.lines) // document-wide body-size basis
      (1 to info.pageCount).foreach { i =>
        out += Span(SpanKind.PageBreak, s"""{"next_page":$i}""", "", out.length)
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
      Converted(out.toSeq, info.pageCount, info.title, media.toSeq, metadata)
    }
}
