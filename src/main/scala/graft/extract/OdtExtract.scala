package graft.extract

import javax.xml.stream.XMLStreamConstants
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** ODT (OpenDocument Text, ODF 1.2 — public OASIS standard) extraction
  * from raw bytes: ZIP + `content.xml` through the shared StAX machinery.
  * The reference routes `application/vnd.oasis.opendocument.text` through
  * MarkItDown (markitdown_provider/provider.py:43); here the container is
  * parsed directly, NOT ported.
  *
  * `text:h` (outline-level → `#` heading), `text:p` (paragraph),
  * `text:list-item` (`- ` items), `table:table` (pipe tables),
  * `text:s`/`text:tab`/`text:line-break` whitespace, `draw:image`
  * Pictures payloads lifted as img-K media items, `dc:title` from
  * meta.xml, all into the flow shape ([[DocxExtract.DocxDoc]]). Malformed
  * input throws → failure row. O(bytes) per doc.
  */
object OdtExtract {

  import DocxExtract.{readZip, reader, attr, collapseWs, tableMd, writeZip,
    normalizePath, MediaCollector}
  import DocxExtract.{Block, DocxDoc, Para, Table, Pic, PageBreak}

  def extract(bytes: Array[Byte]): DocxDoc = {
    val entries = readZip(bytes)
    val content = entries.getOrElse("content.xml",
      throw new IllegalStateException("no content.xml"))
    val title = entries.get("meta.xml").map(metaTitle).getOrElse("")
    val media = new MediaCollector
    def resolvePic(href: String): Option[String] = {
      val path = normalizePath(href)
      media.add(path, path, entries.get(path))
    }
    DocxDoc(title, parseContent(content, resolvePic), media.items)
  }

  /** dc:title from a meta.xml part (shared with [[OdsExtract]]). */
  private[extract] def metaTitle(xml: Array[Byte]): String = {
    val r = reader(xml)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "title")
          return r.getElementText.trim
      }
      ""
    } finally r.close()
  }

  private def parseContent(
      xml: Array[Byte], resolvePic: String => Option[String]): Seq[Block] = {
    val r = reader(xml)
    val blocks = ArrayBuffer[Block]()
    var inBody = false
    // paragraph state: text:p / text:h nest inside lists and table cells
    var paraDepth = 0
    var headingLevel = 0 // 0 = plain paragraph
    var listDepth = 0
    val pText = new StringBuilder
    val pendingPics = ArrayBuffer[String]()
    // table state
    var tblDepth = 0
    var rows = ArrayBuffer[ArrayBuffer[String]]()
    var cell = new StringBuilder

    def sink: StringBuilder = if (tblDepth > 0) cell else pText

    def flushPara(): Unit = {
      val text = collapseWs(pText.toString)
      if (text.nonEmpty) {
        val md =
          if (headingLevel > 0) "#" * math.min(headingLevel, 6) + " " + text
          else if (listDepth > 0) "- " + text
          else text
        blocks += Para(md)
      }
      pendingPics.foreach(blocks += Pic(_))
      pendingPics.clear()
      pText.clear(); headingLevel = 0
    }

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "text" => inBody = true // office:text opens the body
              case "table" if inBody =>
                tblDepth += 1
                if (tblDepth == 1) rows = ArrayBuffer()
              case "table-row" if tblDepth == 1 => rows += ArrayBuffer()
              case "table-cell" if tblDepth == 1 => cell = new StringBuilder
              case "h" if inBody =>
                paraDepth += 1
                if (tblDepth == 0) headingLevel = {
                  val l = attr(r, "outline-level")
                  if (l.nonEmpty && l.forall(_.isDigit)) l.toInt else 1
                }
                // heading in a table cell: its TEXT still belongs to the
                // cell (heading markup has no pipe-table rendering)
                else if (cell.nonEmpty) cell += ' '
              case "p" if inBody =>
                paraDepth += 1
                if (tblDepth > 0 && cell.nonEmpty) cell += ' '
              case "list" if inBody && tblDepth == 0 => listDepth += 1
              case "s" if paraDepth > 0 =>
                val c = attr(r, "c")
                val n = if (c.nonEmpty && c.forall(_.isDigit)) c.toInt else 1
                sink ++= " " * n
              case "tab" | "line-break" if paraDepth > 0 => sink += ' '
              case "image" if inBody =>
                val href = attr(r, "href") // xlink:href's local name
                if (href.nonEmpty && tblDepth == 0)
                  resolvePic(href).foreach(pendingPics += _)
              case "frame" | "span" | "a" => () // transparent containers
              case "note" | "annotation" =>
                // skip footnote/comment bodies entirely
                var depth = 1
                while (depth > 0 && r.hasNext) {
                  r.next() match {
                    case XMLStreamConstants.START_ELEMENT => depth += 1
                    case XMLStreamConstants.END_ELEMENT => depth -= 1
                    case _ => ()
                  }
                }
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (paraDepth > 0) sink ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" | "h" if paraDepth > 0 =>
                paraDepth -= 1
                if (tblDepth == 0 && paraDepth == 0) flushPara()
              case "list" if listDepth > 0 && tblDepth == 0 => listDepth -= 1
              case "table-cell" if tblDepth == 1 =>
                if (rows.nonEmpty) rows.last += collapseWs(cell.toString)
              case "table" if tblDepth > 0 =>
                tblDepth -= 1
                if (tblDepth == 0 && rows.nonEmpty)
                  blocks += Table(tableMd(rows.map(_.toSeq).toSeq))
              case "text" => inBody = false
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    blocks.toSeq
  }

  // ------------------------------------------------------------ writer
  /** Deterministic ODT writer — the encode side of the q_odt round-trip.
    * `media(k)` = (ext, payload) for the k-th [[Pic]] block in order.
    */
  def buildOdt(title: String, blocks: Seq[Block],
      media: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val body = new StringBuilder
    var picCount = 0
    blocks.foreach {
      case Para(md) =>
        if (md.startsWith("#")) {
          val level = md.takeWhile(_ == '#').length
          body ++= s"""<text:h text:outline-level="$level">${Bin.xmlText(md.dropWhile(c => c == '#' || c == ' '))}</text:h>"""
        } else if (md.startsWith("- "))
          body ++= s"""<text:list><text:list-item><text:p>${Bin.xmlText(md.drop(2))}</text:p></text:list-item></text:list>"""
        else body ++= s"""<text:p>${Bin.xmlText(md)}</text:p>"""
      case Table(md) =>
        val rws = md.split("\n").filterNot(_.matches("\\|(-+\\|)+"))
        body ++= """<table:table>"""
        rws.foreach { row =>
          body ++= "<table:table-row>"
          row.stripPrefix("|").stripSuffix("|").split("\\|", -1).foreach { c =>
            body ++= s"""<table:table-cell><text:p>${Bin.xmlText(c)}</text:p></table:table-cell>"""
          }
          body ++= "</table:table-row>"
        }
        body ++= "</table:table>"
      case Pic(_) =>
        val (ext, _) = media(picCount)
        body ++= s"""<text:p><draw:frame><draw:image xlink:href="Pictures/image$picCount.$ext"/></draw:frame></text:p>"""
        picCount += 1
      case PageBreak => () // ODT page breaks are style-driven; not emitted
    }
    val contentXml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" xmlns:xlink="http://www.w3.org/1999/xlink"><office:body><office:text>${body.toString}</office:text></office:body></office:document-content>""".stripMargin
    val metaXml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-meta xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:dc="http://purl.org/dc/elements/1.1/"><office:meta><dc:title>${Bin.xmlText(title)}</dc:title></office:meta></office:document-meta>""".stripMargin
    writeZip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.text".getBytes("UTF-8"),
      "content.xml" -> contentXml.getBytes("UTF-8"),
      "meta.xml" -> metaXml.getBytes("UTF-8")) ++
      media.zipWithIndex.map { case ((ext, data), k) => s"Pictures/image$k.$ext" -> data })
  }
}
