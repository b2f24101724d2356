package graft.extract

import java.nio.charset.StandardCharsets
import javax.xml.stream.XMLStreamConstants
import scala.collection.mutable.ArrayBuffer

/** PPTX (PresentationML) and XLSX (SpreadsheetML) extraction from raw
  * bytes — the remaining Office formats the reference routes through the
  * external MarkItDown service (markitdown_provider/provider.py:35-59);
  * here the OOXML containers are parsed directly with the JDK's ZIP +
  * StAX, sharing [[DocxExtract]]'s machinery. From-scratch against the
  * public ECMA-376 shapes, NOT a port.
  *
  * PPTX: one page per slide (`ppt/slides/slideN.xml` in numeric order),
  * title-placeholder shapes (`p:ph type="title"/"ctrTitle"`) become `# `
  * headings, other text-body paragraphs become plain blocks, `a:tbl`
  * tables become pipe tables, and `a:blip` picture payloads lift from
  * ppt/media through each slide's rels as img-K media items.
  *
  * XLSX: one page per sheet (workbook order, names from
  * `xl/workbook.xml`), each sheet a `## name` heading plus a pipe table of
  * its cells — shared strings (`t="s"`), inline strings (`t="inlineStr"`)
  * and literal values resolve; cell references (`r="B3"`) position sparse
  * cells correctly.
  *
  * Out of scope (documented): charts, formulas (the cached value is
  * used), merged-cell spans, XLSX cell images. Malformed input throws —
  * the format table's envelope makes it a failure row. O(bytes) per
  * document.
  *
  * [[PptxDoc]] is the slides shape (PPT parses into it too) and
  * [[XlsxDoc]] the sheets shape (ODS, XLS, XLSB); [[pptxSpans]] and
  * [[xlsxSpans]] are their one renderers.
  */
object OfficeExtract {

  import DocxExtract.{readZip, reader, attr, coreTitle, collapseWs, tableMd, parseRels,
    normalizePath, MediaCollector}

  /** `imageRefs` = canonical img-K media refs drawn on this slide. */
  final case class Slide(title: String, blocks: Seq[String],
      imageRefs: Seq[String] = Nil)
  final case class PptxDoc(title: String, slides: Seq[Slide],
      media: Seq[graft.model.MediaItem] = Nil)
  final case class Sheet(name: String, tableMd: String)
  final case class XlsxDoc(title: String, sheets: Seq[Sheet])

  // ------------------------------------------------------------ pptx
  private val SlideName = """ppt/slides/slide(\d+)\.xml""".r

  def extractPptx(bytes: Array[Byte]): PptxDoc = {
    val entries = readZip(bytes)
    val slideKeys = entries.keys.collect { case k @ SlideName(n) => (n.toInt, k) }
      .toSeq.sortBy(_._1)
    if (slideKeys.isEmpty) throw new IllegalStateException("no ppt/slides/slideN.xml")
    val title = entries.get("docProps/core.xml").map(coreTitle).getOrElse("")
    // slide media: a:blip r:embed → the slide's OWN rels part → ppt/media
    // payload, canonical img-K by encounter order, deduped DECK-WIDE by
    // resolved target path (a logo on 30 slides = ONE item)
    val media = new MediaCollector
    val slides = slideKeys.map { case (_, k) =>
      val rels = entries.get(s"ppt/slides/_rels/${k.substring(k.lastIndexOf('/') + 1)}.rels")
        .map(parseRels).getOrElse(Map.empty)
      def resolvePic(rid: String): Option[String] =
        rels.get(rid).flatMap { target =>
          val path = normalizePath(
            if (target.startsWith("/")) target.drop(1) else "ppt/slides/" + target)
          media.add(path, path, entries.get(path))
        }
      parseSlide(entries(k), resolvePic)
    }
    PptxDoc(title, slides, media.items)
  }

  private def parseSlide(
      xml: Array[Byte],
      resolvePic: String => Option[String] = _ => None): Slide = {
    val r = reader(xml)
    val blocks = ArrayBuffer[String]()
    val imageRefs = ArrayBuffer[String]()
    var slideTitle = ""
    var inShape = false
    var isTitleShape = false
    var picDepth = 0 // only p:pic blips are CONTENT; bg/cell fills are not
    var inPara = false
    val pText = new StringBuilder
    val shapeParas = ArrayBuffer[String]()
    // a:tbl table state
    var inTbl = false
    var rows = ArrayBuffer[ArrayBuffer[String]]()
    var cell = new StringBuilder
    var inCell = false

    def flushShape(): Unit = {
      if (isTitleShape && shapeParas.nonEmpty) {
        if (slideTitle.isEmpty) slideTitle = shapeParas.head
        shapeParas.tail.foreach(blocks += _)
      } else shapeParas.foreach(blocks += _)
      shapeParas.clear(); inShape = false; isTitleShape = false
    }

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "sp" => inShape = true; isTitleShape = false
              case "ph" if inShape =>
                val t = attr(r, "type")
                if (t == "title" || t == "ctrTitle") isTitleShape = true
              case "tbl" => inTbl = true; rows = ArrayBuffer()
              case "tr" if inTbl => rows += ArrayBuffer()
              case "tc" if inTbl => inCell = true; cell = new StringBuilder
              case "p" => inPara = true; pText.clear()
              case "pic" => picDepth += 1
              case "blip" if picDepth > 0 && !inTbl =>
                // gate on p:pic ancestry: slide-background and table-cell
                // FILL blips are decoration, not content (DOCX/HTML parity)
                val rid = attr(r, "embed") // r:embed's local name
                if (rid.nonEmpty) resolvePic(rid).foreach(imageRefs += _)
              case "t" =>
                val txt = r.getElementText
                if (inCell) { if (cell.nonEmpty) cell += ' '; cell ++= txt }
                else if (inPara) pText ++= txt
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" if inPara =>
                inPara = false
                val text = collapseWs(pText.toString)
                if (text.nonEmpty && !inCell) {
                  if (inShape) shapeParas += text else blocks += text
                }
              case "tc" if inTbl =>
                inCell = false
                if (rows.nonEmpty) rows.last += collapseWs(cell.toString)
              case "tbl" if inTbl =>
                inTbl = false
                if (rows.nonEmpty) blocks += tableMd(rows.map(_.toSeq).toSeq)
              case "pic" if picDepth > 0 => picDepth -= 1
              case "sp" if inShape => flushShape()
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    Slide(slideTitle, blocks.toSeq, imageRefs.toSeq)
  }

  /** Slides → spans: a page_break per slide, `# title` heading, text
    * blocks, then the slide's image spans.
    */
  def pptxSpans(doc: PptxDoc): Seq[graft.model.Span] = {
    import graft.model.{Span, SpanKind}
    val out = ArrayBuffer[Span]()
    doc.slides.zipWithIndex.foreach { case (slide, i) =>
      out += graft.md.Markdown.pageBreakSpan(i + 1, out.length)
      if (slide.title.nonEmpty)
        out += Span(SpanKind.Text, "# " + slide.title, "", out.length)
      slide.blocks.foreach(b => out += Span(SpanKind.Text, b, "", out.length))
      slide.imageRefs.foreach { ref =>
        val id = ref.substring(0, ref.lastIndexOf('.'))
        out += Span(SpanKind.Image, id, ref, out.length)
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------ xlsx
  def extractXlsx(bytes: Array[Byte]): XlsxDoc = {
    val entries = readZip(bytes)
    val workbook = entries.getOrElse("xl/workbook.xml",
      throw new IllegalStateException("no xl/workbook.xml"))
    val shared = entries.get("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(Vector.empty)
    val names = sheetNames(workbook)
    val title = entries.get("docProps/core.xml").map(coreTitle).getOrElse("")
    // sheet→part pairing goes through the workbook RELATIONSHIPS (r:id →
    // Target): Excel does not rename parts when sheets are reordered, so
    // positional sheetN.xml pairing silently mismatches names and data.
    // Positional is only the fallback for rels-less minimal files.
    val rels: Map[String, String] = entries.get("xl/_rels/workbook.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val sheets = names.zipWithIndex.map { case ((name, rid), i) =>
      val viaRels = rels.get(rid).map { t =>
        if (t.startsWith("/")) t.drop(1) else "xl/" + t
      }
      val key = viaRels.getOrElse(s"xl/worksheets/sheet${i + 1}.xml")
      val xml = entries.getOrElse(key,
        throw new IllegalStateException(s"missing worksheet part $key"))
      Sheet(name, parseSheet(xml, shared))
    }
    if (sheets.isEmpty) throw new IllegalStateException("no worksheets")
    XlsxDoc(title, sheets)
  }

  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val r = reader(xml)
    val out = Vector.newBuilder[String]
    var inSi = false
    val cur = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "t" if inSi => cur ++= r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            inSi = false; out += cur.toString
          case _ => ()
        }
      }
    } finally r.close()
    out.result()
  }

  /** (name, r:id) per sheet, in workbook order. */
  private def sheetNames(xml: Array[Byte]): Seq[(String, String)] = {
    val r = reader(xml)
    val out = ArrayBuffer[(String, String)]()
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet")
          out += ((attr(r, "name"), attr(r, "id"))) // r:id's local name is "id"
      }
    } finally r.close()
    out.toSeq
  }

  /** `r="BC23"` → 0-based column 54; empty ref → next position. */
  private[graft] def colOf(ref: String): Int = {
    var v = 0
    var i = 0
    while (i < ref.length && ref(i).isLetter) { v = v * 26 + (ref(i).toUpper - 'A' + 1); i += 1 }
    v - 1
  }

  private def parseSheet(xml: Array[Byte], shared: Vector[String]): String = {
    val r = reader(xml)
    val rows = ArrayBuffer[ArrayBuffer[String]]()
    var cellType = ""
    var cellCol = -1
    val value = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => rows += ArrayBuffer()
              case "c" =>
                cellType = attr(r, "t")
                val ref = attr(r, "r")
                cellCol = if (ref.nonEmpty) colOf(ref) else
                  (if (rows.nonEmpty) rows.last.length else 0)
                value.clear()
              case "v" | "t" =>
                value ++= r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "c" =>
            if (rows.nonEmpty && cellCol >= 0) {
              val row = rows.last
              while (row.length < cellCol) row += "" // sparse refs pad gaps
              val v = value.toString
              val resolved =
                if (cellType == "s")
                  shared.lift(v.trim.toInt)
                    .getOrElse(throw new IllegalStateException(s"shared string $v"))
                else v
              if (row.length == cellCol) row += resolved else row(cellCol) = resolved
            }
            cellCol = -1; cellType = ""
          case _ => ()
        }
      }
    } finally r.close()
    val filled = rows.filter(_.nonEmpty)
    if (filled.isEmpty) "" else tableMd(filled.map(_.toSeq).toSeq)
  }

  /** Sheets → spans: a page_break per sheet, `## name` heading, its table. */
  def xlsxSpans(doc: XlsxDoc): Seq[graft.model.Span] = {
    import graft.model.{Span, SpanKind}
    val out = ArrayBuffer[Span]()
    doc.sheets.zipWithIndex.foreach { case (sheet, i) =>
      out += graft.md.Markdown.pageBreakSpan(i + 1, out.length)
      out += Span(SpanKind.Text, "## " + sheet.name, "", out.length)
      if (sheet.tableMd.nonEmpty)
        out += Span(SpanKind.Text, sheet.tableMd, "", out.length)
    }
    out.toSeq
  }

  // ------------------------------------------------------------ writers
  private def zipOf(parts: Seq[(String, String)],
      binParts: Seq[(String, Array[Byte])] = Nil): Array[Byte] =
    DocxExtract.writeZip(
      parts.map { case (n, c) => n -> c.getBytes(StandardCharsets.UTF_8) } ++ binParts)


  /** Deterministic PPTX writer — the encode side of the q_pptx round-trip.
    * `media(k)` = (ext, payload) for the k-th image across the deck in
    * slide order (each slide's `imageRefs` size = its image count).
    */
  def buildPptx(title: String, slides: Seq[Slide]): Array[Byte] =
    buildPptx(title, slides, Nil)

  def buildPptx(title: String, slides: Seq[Slide],
      media: Seq[(String, Array[Byte])]): Array[Byte] = {
    val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
    val P = "http://schemas.openxmlformats.org/presentationml/2006/main"
    val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    var mediaAt = 0
    def slideXml(s: Slide): (String, String) = {
      val titleSp = if (s.title.nonEmpty)
        s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr><p:txBody><a:p><a:r><a:t>${Bin.xmlAttr(s.title)}</a:t></a:r></a:p></p:txBody></p:sp>"""
      else ""
      val bodyParas = s.blocks.map(b =>
        s"""<a:p><a:r><a:t>${Bin.xmlAttr(b)}</a:t></a:r></a:p>""").mkString
      val bodySp = if (s.blocks.nonEmpty)
        s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr><p:txBody>$bodyParas</p:txBody></p:sp>"""
      else ""
      val picIdx = s.imageRefs.indices.map(_ + mediaAt)
      mediaAt += s.imageRefs.size
      val pics = picIdx.map(k =>
        s"""<p:pic><p:blipFill><a:blip r:embed="rIdImg$k"/></p:blipFill></p:pic>""").mkString
      val relsXml =
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${
          picIdx.map { k =>
            val (ext, _) = media(k)
            s"""<Relationship Id="rIdImg$k" Type="$R/image" Target="../media/image$k.$ext"/>"""
          }.mkString
        }</Relationships>""".stripMargin
      (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="$P" xmlns:a="$A" xmlns:r="$R"><p:cSld><p:spTree>$titleSp$bodySp$pics</p:spTree></p:cSld></p:sld>""".stripMargin,
        relsXml)
    }
    // OPC: every media extension needs a declared content type
    val mediaDefaults = media.map(_._1).distinct.map { ext =>
      val mime = graft.ops.DocOps.ExtToMime.getOrElse(ext, "application/octet-stream")
      s"""<Default Extension="$ext" ContentType="$mime"/>"""
    }.mkString
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>$mediaDefaults</Types>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/></Relationships>""".stripMargin
    val presentation =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:presentation xmlns:p="$P"/>""".stripMargin
    val core =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/"><dc:title>${Bin.xmlAttr(title)}</dc:title></cp:coreProperties>""".stripMargin
    val slideParts = slides.zipWithIndex.flatMap { case (s, i) =>
      val (xml, relsXml) = slideXml(s)
      Seq(s"ppt/slides/slide${i + 1}.xml" -> xml) ++
        (if (s.imageRefs.nonEmpty)
          Seq(s"ppt/slides/_rels/slide${i + 1}.xml.rels" -> relsXml)
        else Nil)
    }
    zipOf(Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "ppt/presentation.xml" -> presentation,
      "docProps/core.xml" -> core) ++ slideParts,
      media.zipWithIndex.map { case ((ext, data), k) => s"ppt/media/image$k.$ext" -> data })
  }

  /** Deterministic XLSX writer (inline strings — no sharedStrings
    * dependency on the write side; the parser handles both).
    */
  def buildXlsx(title: String, sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    def sheetXml(rows: Seq[Seq[String]]): String = {
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cs = cells.zipWithIndex.map { case (v, ci) =>
          val ref = s"${('A' + ci).toChar}${ri + 1}"
          if (v.forall(c => c.isDigit) && v.nonEmpty)
            s"""<c r="$ref"><v>$v</v></c>"""
          else
            s"""<c r="$ref" t="inlineStr"><is><t>${Bin.xmlAttr(v)}</t></is></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""".stripMargin
    }
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>${
        sheets.zipWithIndex.map { case ((n, _), i) =>
          s"""<sheet name="${Bin.xmlAttr(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString
      }</sheets></workbook>""".stripMargin
    val workbookRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString
      }</Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/></Types>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
    val core =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/"><dc:title>${Bin.xmlAttr(title)}</dc:title></cp:coreProperties>""".stripMargin
    zipOf(Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> workbookRels,
      "docProps/core.xml" -> core) ++
      sheets.zipWithIndex.map { case ((_, rows), i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(rows)
      })
  }
}
