package graft.extract

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** DOCX (OOXML WordprocessingML) extraction from raw bytes — the
  * byte-level analog of the reference's Office conversion path
  * (markitdown_provider/provider.py:35-59 routes
  * `application/vnd.openxmlformats-officedocument.wordprocessingml.document`
  * through the external MarkItDown service; here the container is parsed
  * directly: DOCX is ZIP + XML, both in the JDK). From-scratch against the
  * public ECMA-376 WordprocessingML shapes, NOT a port.
  *
  * Produces the same markdown block grammar the reference's converters
  * emit: `#`-prefixed headings from `Heading<N>`/`Title` paragraph styles,
  * `- ` list items from `numPr` numbering, pipe tables with a `|---|`
  * separator row, explicit page breaks (`w:br w:type="page"`) as
  * page-break markers, and the docProps/core.xml `dc:title`.
  *
  * Out of scope (documented): embedded media extraction (the word/media
  * payload parts), tracked changes, footnotes, text boxes. Malformed
  * ZIP/XML throws; the format table's envelope turns that into a failure
  * row, not a task failure. O(bytes) per document, safe in
  * `mapPartitions` at scale.
  *
  * [[DocxDoc]] is the flow shape every word processor parses into (ODT,
  * RTF and DOC too), and [[toSpans]] its one renderer.
  */
object DocxExtract {

  sealed trait Block
  final case class Para(md: String) extends Block
  final case class Table(md: String) extends Block
  /** An embedded picture, renamed to the canonical `img-K.<ext>`. */
  final case class Pic(mediaRef: String) extends Block
  case object PageBreak extends Block

  final case class DocxDoc(
      title: String,
      blocks: Seq[Block],
      media: Seq[graft.model.MediaItem] = Nil) {
    def pageCount: Int = 1 + blocks.count(_ == PageBreak)
  }

  def extract(bytes: Array[Byte]): DocxDoc = {
    val entries = readZip(bytes)
    val docXml = entries.getOrElse("word/document.xml",
      throw new IllegalStateException("no word/document.xml"))
    val title = entries.get("docProps/core.xml").map(coreTitle).getOrElse("")
    // embedded media: a:blip r:embed="rId" → document rels → word/media
    // part bytes, lifted as img-K items in encounter order (the docler
    // Image payload shape)
    val rels = entries.get("word/_rels/document.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val media = new MediaCollector
    def resolvePic(rid: String): Option[String] =
      rels.get(rid).flatMap { target =>
        val path = normalizePath(
          if (target.startsWith("/")) target.drop(1) else "word/" + target)
        media.add(path, path, entries.get(path))
      }
    DocxDoc(title, parseDocument(docXml, resolvePic), media.items)
  }

  /** Part rels: Relationship Id → Target (part-relative path). */
  private[extract] def parseRels(xml: Array[Byte]): Map[String, String] = {
    val r = reader(xml)
    val out = Map.newBuilder[String, String]
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
          out += attr(r, "Id") -> attr(r, "Target")
      }
    } finally r.close()
    out.result()
  }

  /** Blocks → the canonical span stream (page_break marker per page, one
    * text span per block) — same shape as [[PdfText]]-backed PDF ingestion.
    */
  def toSpans(doc: DocxDoc): Seq[graft.model.Span] = {
    import graft.model.{Span, SpanKind}
    import graft.md.Markdown.pageBreakSpan
    val out = ArrayBuffer[Span]()
    var page = 1
    out += pageBreakSpan(page, 0)
    doc.blocks.foreach {
      case PageBreak =>
        page += 1
        out += pageBreakSpan(page, out.length)
      case Para(md) => out += Span(SpanKind.Text, md, "", out.length)
      case Table(md) => out += Span(SpanKind.Text, md, "", out.length)
      case Pic(ref) =>
        val id = ref.substring(0, ref.lastIndexOf('.'))
        out += Span(SpanKind.Image, id, ref, out.length)
    }
    out.toSeq
  }

  // ------------------------------------------------------------ shared utils
  /** `..`/`.` segment folding for container-relative hrefs (OPC rels,
    * EPUB spine/img, ODT Pictures) — ONE implementation for every
    * extractor.
    */
  private[extract] def normalizePath(path: String): String =
    path.split('/').foldLeft(List.empty[String]) {
      case (acc, "..") => if (acc.nonEmpty) acc.init else acc
      case (acc, ".") => acc
      case (acc, seg) => acc :+ seg
    }.mkString("/")

  /** Canonical img-K media accumulation shared by the DOCX/PPTX/ODT/EPUB
    * lifters: caches by an extractor-chosen key (rid, path, …) so repeated
    * references reuse ONE item, names by encounter order, and maps the
    * extension through the MIME registry.
    */
  private[extract] final class MediaCollector {
    private val buf = ArrayBuffer[graft.model.MediaItem]()
    private val byKey = mutable.Map[String, String]()
    def items: Seq[graft.model.MediaItem] = buf.toSeq
    def size: Int = buf.length
    def add(cacheKey: String, path: String, data: => Option[Array[Byte]]): Option[String] =
      byKey.get(cacheKey).orElse(data.map { d =>
        val ext = {
          val i = path.lastIndexOf('.')
          if (i >= 0) path.substring(i + 1).toLowerCase else "bin"
        }
        val filename = s"img-${buf.length}.$ext"
        buf += graft.model.MediaItem(filename,
          graft.ops.DocOps.ExtToMime.getOrElse(ext, "application/octet-stream"), d)
        byKey(cacheKey) = filename
        filename
      })
  }

  /** Deterministic ZIP assembly (fixed timestamps) — the one writer loop
    * behind every container builder.
    */
  private[extract] def writeZip(parts: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(out)
    try {
      parts.foreach { case (name, content) =>
        val e = new java.util.zip.ZipEntry(name)
        e.setTime(1577836800000L) // fixed timestamp: deterministic bytes
        zout.putNextEntry(e)
        zout.write(content)
        zout.closeEntry()
      }
    } finally zout.close()
    out.toByteArray
  }

  // ------------------------------------------------------------ zip
  /** Entries inflate under [[Bin.MaxEntryBytes]] each and
    * [[Bin.MaxTotalBytes]] in all.
    */
  private[extract] def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    var total = 0L
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = zin.read(tmp)
          while (n >= 0) {
            buf.write(tmp, 0, n)
            total += n
            if (buf.size() > Bin.MaxEntryBytes || total > Bin.MaxTotalBytes)
              throw new IllegalStateException(
                s"zip entry ${e.getName} exceeds inflation cap (zip bomb?)")
            n = zin.read(tmp)
          }
          out(e.getName) = buf.toByteArray
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  // ------------------------------------------------------------ xml
  /** StAX factory per thread: `XMLInputFactory.newInstance()` walks the
    * service-loader path — doing that per XML PART dominates small-doc
    * parse cost; factories are not thread-safe, so thread-local.
    */
  private val xmlFactory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      f
    }
  }

  private[extract] def reader(xml: Array[Byte]) =
    xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(xml))

  private[extract] def coreTitle(xml: Array[Byte]): String = {
    val r = reader(xml)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "title")
          return r.getElementText.trim
      }
      ""
    } finally r.close()
  }

  private[extract] def attr(r: javax.xml.stream.XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    ""
  }

  private val HeadingStyle = """[Hh]eading(\d)""".r

  private def parseDocument(
      xml: Array[Byte],
      resolvePic: String => Option[String] = _ => None): Seq[Block] = {
    val r = reader(xml)
    val blocks = ArrayBuffer[Block]()
    // paragraph state (outside tables)
    var inP = false
    var pStyle = ""
    var isList = false
    var pendingPageBreak = false
    val pText = new StringBuilder
    val pendingPics = ArrayBuffer[String]()
    // table state
    var tblDepth = 0
    var rows = ArrayBuffer[ArrayBuffer[String]]()
    var cell = new StringBuilder

    def flushPara(): Unit = {
      val text = collapseWs(pText.toString)
      if (text.nonEmpty) {
        val md = pStyle match {
          case HeadingStyle(n) => "#" * n.toInt + " " + text
          case "Title" => "# " + text
          case _ if isList => "- " + text
          case _ => text
        }
        blocks += Para(md)
      }
      pendingPics.foreach(blocks += Pic(_))
      pendingPics.clear()
      if (pendingPageBreak) blocks += PageBreak
      pText.clear(); pStyle = ""; isList = false; pendingPageBreak = false; inP = false
    }

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "tbl" =>
                tblDepth += 1
                if (tblDepth == 1) rows = ArrayBuffer()
              case "tr" if tblDepth == 1 => rows += ArrayBuffer()
              case "tc" if tblDepth == 1 => cell = new StringBuilder
              case "p" if tblDepth == 0 => inP = true
              case "pStyle" if inP && tblDepth == 0 => pStyle = attr(r, "val")
              case "numPr" if inP && tblDepth == 0 => isList = true
              case "br" =>
                if (attr(r, "type") == "page") pendingPageBreak = true
                else if (tblDepth > 0) cell += ' '
                else pText += ' '
              case "tab" =>
                if (tblDepth > 0) cell += ' ' else pText += ' '
              case "blip" if tblDepth == 0 =>
                val rid = attr(r, "embed") // r:embed's local name
                if (rid.nonEmpty) resolvePic(rid).foreach(pendingPics += _)
              case "t" =>
                val txt = r.getElementText
                if (tblDepth > 0) cell ++= txt else if (inP) pText ++= txt
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" if tblDepth == 0 && inP => flushPara()
              case "tc" if tblDepth == 1 =>
                if (rows.nonEmpty) rows.last += collapseWs(cell.toString)
              case "tbl" =>
                tblDepth -= 1
                if (tblDepth == 0 && rows.nonEmpty)
                  blocks += Table(tableMd(rows.map(_.toSeq).toSeq))
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    blocks.toSeq
  }

  /** MarkItDown's pipe-table shape: header row, `|---|` separator, body.
    * Cell text that would break the table structure is escaped: `|` as
    * `\|`, embedded newlines as `<br>` (the common markdown-table
    * convention) — otherwise a cell containing either (RFC 4180 quoting,
    * spreadsheet strings) shifts every following column or row.
    */
  private[extract] def tableMd(rows: Seq[Seq[String]]): String = {
    val ncols = rows.map(_.length).max
    def cellMd(c: String): String = {
      val noPipe = if (c.indexOf('|') >= 0) c.replace("|", "\\|") else c
      if (noPipe.indexOf('\n') >= 0 || noPipe.indexOf('\r') >= 0)
        noPipe.replace("\r\n", "<br>").replace("\n", "<br>").replace("\r", "<br>")
      else noPipe
    }
    def rowMd(cells: Seq[String]): String =
      (cells.map(cellMd) ++ Seq.fill(ncols - cells.length)("")).mkString("|", "|", "|")
    (rowMd(rows.head) +: ("|" + "---|" * ncols) +: rows.tail.map(rowMd)).mkString("\n")
  }

  private[extract] def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var prevWs = false
    s.foreach { c =>
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\r'
      if (ws) { if (!prevWs && sb.nonEmpty) sb += ' ' }
      else sb += c
      prevWs = ws
    }
    var b = sb.length
    while (b > 0 && sb(b - 1) == ' ') b -= 1
    sb.substring(0, b)
  }

  // ------------------------------------------------------------ writer
  /** Deterministic DOCX writer — the encode side of the q_docx round-trip
    * (fixed ZIP timestamps, minimal required parts). Blocks mirror what the
    * parser emits: headings (level 1-6), list items, plain paragraphs, pipe
    * tables (rendered as w:tbl), page breaks (an empty paragraph carrying
    * `w:br w:type="page"`).
    */
  def buildDocx(title: String, blocks: Seq[Block]): Array[Byte] =
    buildDocx(title, blocks, Nil)

  /** `media(k)` = (ext, payload) for the k-th [[Pic]] block in document
    * order; the writer emits the drawing run, the document-rels entry, and
    * the binary `word/media/imageK.<ext>` part.
    */
  def buildDocx(title: String, blocks: Seq[Block],
      media: Seq[(String, Array[Byte])]): Array[Byte] = {
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val body = new StringBuilder
    var picCount = 0
    def para(text: String, style: String, list: Boolean): Unit = {
      body ++= "<w:p>"
      if (style.nonEmpty || list) {
        body ++= "<w:pPr>"
        if (style.nonEmpty) body ++= s"""<w:pStyle w:val="$style"/>"""
        if (list) body ++= """<w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr>"""
        body ++= "</w:pPr>"
      }
      body ++= s"""<w:r><w:t xml:space="preserve">${Bin.xmlAttr(text)}</w:t></w:r></w:p>"""
    }
    blocks.foreach {
      case Para(md) =>
        if (md.startsWith("#")) {
          val level = md.takeWhile(_ == '#').length
          para(md.dropWhile(c => c == '#' || c == ' '), s"Heading$level", list = false)
        } else if (md.startsWith("- "))
          para(md.drop(2), "", list = true)
        else para(md, "", list = false)
      case Table(md) =>
        val rows = md.split("\n").filterNot(_.matches("\\|(-+\\|)+"))
        body ++= "<w:tbl>"
        rows.foreach { row =>
          body ++= "<w:tr>"
          row.stripPrefix("|").stripSuffix("|").split("\\|", -1).foreach { c =>
            body ++= s"""<w:tc><w:p><w:r><w:t xml:space="preserve">${Bin.xmlAttr(c)}</w:t></w:r></w:p></w:tc>"""
          }
          body ++= "</w:tr>"
        }
        body ++= "</w:tbl>"
      case PageBreak =>
        body ++= """<w:p><w:r><w:br w:type="page"/></w:r></w:p>"""
      case Pic(_) =>
        val k = picCount
        picCount += 1
        body ++= s"""<w:p><w:r><w:drawing><a:blip r:embed="rIdImg$k"/></w:drawing></w:r></w:p>"""
    }
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="$W" xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><w:body>${body.toString}</w:body></w:document>""".stripMargin
    val docRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${
        media.zipWithIndex.map { case ((ext, _), k) =>
          s"""<Relationship Id="rIdImg$k" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/image$k.$ext"/>"""
        }.mkString
      }</Relationships>""".stripMargin
    val coreXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/"><dc:title>${Bin.xmlAttr(title)}</dc:title></cp:coreProperties>""".stripMargin
    // OPC requires every part's content type declared — including the
    // media extensions, or strict consumers (Word/POI) reject the package
    val mediaDefaults = media.map(_._1).distinct.map { ext =>
      val mime = graft.ops.DocOps.ExtToMime.getOrElse(ext, "application/octet-stream")
      s"""<Default Extension="$ext" ContentType="$mime"/>"""
    }.mkString
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>$mediaDefaults<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/><Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/></Types>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties" Target="docProps/core.xml"/></Relationships>""".stripMargin

    val textParts = Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "word/document.xml" -> documentXml,
      "docProps/core.xml" -> coreXml) ++
      (if (media.nonEmpty) Seq("word/_rels/document.xml.rels" -> docRels) else Nil)
    val binParts = media.zipWithIndex.map { case ((ext, data), k) =>
      s"word/media/image$k.$ext" -> data
    }
    writeZip(textParts.map { case (n, c) => n -> c.getBytes(StandardCharsets.UTF_8) } ++ binParts)
  }
}
