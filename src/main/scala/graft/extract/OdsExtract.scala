package graft.extract

import javax.xml.stream.XMLStreamConstants
import scala.collection.mutable.ArrayBuffer

/** ODS (OpenDocument Spreadsheet, ODF 1.2 — public OASIS standard)
  * extraction from raw bytes, composing [[OdtExtract]]'s container/StAX
  * machinery with the sheets shape ([[OfficeExtract.XlsxDoc]]): each
  * `table:table` (named by `table:name`) becomes one page — a `## Name`
  * heading plus a pipe table of its cells.
  * `table:number-columns-repeated` expands (the blank-cell padding every
  * real ODS carries); `office:value` is used when the cell
  * has no display text. Reference parity: `mime_types.py:27` maps `.ods`;
  * the spreadsheet MIME is in the SUPPORTED union (mime_types.py:169-175).
  */
object OdsExtract {

  import DocxExtract.{readZip, reader, attr, collapseWs, tableMd, writeZip}
  import OfficeExtract.{Sheet, XlsxDoc}

  def extract(bytes: Array[Byte]): XlsxDoc = {
    val entries = readZip(bytes)
    val content = entries.getOrElse("content.xml",
      throw new IllegalStateException("no content.xml"))
    val title = entries.get("meta.xml").map(OdtExtract.metaTitle).getOrElse("")
    XlsxDoc(title, parseSheets(content))
  }

  private def parseSheets(xml: Array[Byte]): Seq[Sheet] = {
    val r = reader(xml)
    val sheets = ArrayBuffer[Sheet]()
    var sheetName = ""
    var inSheet = false
    var rows = ArrayBuffer[Seq[String]]()
    var row = ArrayBuffer[String]()
    var rowRepeat = 1
    var inCell = false
    var cellRepeat = 1
    var cellValue = ""
    val cellText = new StringBuilder
    def repOf(rep: String): Int =
      if (rep.nonEmpty && rep.forall(_.isDigit))
        math.min(rep.toLong, 4096L).toInt else 1
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "table" =>
                inSheet = true
                sheetName = attr(r, "name")
                rows = ArrayBuffer()
              case "table-row" if inSheet =>
                row = ArrayBuffer()
                rowRepeat = repOf(attr(r, "number-rows-repeated"))
              case "table-cell" if inSheet =>
                inCell = true
                cellRepeat = repOf(attr(r, "number-columns-repeated"))
                cellValue = attr(r, "value")
                cellText.clear()
              case "covered-table-cell" if inSheet =>
                // cells hidden under a merge still occupy columns: emit
                // empty placeholders so later cells keep their alignment
                for (_ <- 0 until repOf(attr(r, "number-columns-repeated")))
                  row += ""
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inCell) cellText ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "table-cell" if inCell =>
                inCell = false
                val text = collapseWs(cellText.toString)
                val v = if (text.nonEmpty) text else cellValue
                for (_ <- 0 until cellRepeat) row += v
              case "table-row" if inSheet =>
                // drop the all-blank tail (repeated filler columns);
                // data rows repeat per number-rows-repeated
                val trimmed = row.reverse.dropWhile(_.isEmpty).reverse
                if (trimmed.nonEmpty)
                  for (_ <- 0 until rowRepeat) rows += trimmed.toSeq
              case "table" if inSheet =>
                inSheet = false
                // empty sheets (default Sheet2/Sheet3 in real files)
                // render as no table
                sheets += Sheet(sheetName, if (rows.isEmpty) "" else tableMd(rows.toSeq))
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    sheets.toSeq
  }

  // ------------------------------------------------------------ writer
  /** Deterministic ODS fixture; one sheet uses number-columns-repeated to
    * exercise expansion when any row has a repeated blank prefix.
    */
  def buildOds(title: String, sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val body = new StringBuilder
    sheets.foreach { case (name, rows) =>
      body ++= s"""<table:table table:name="${Bin.xmlAttr(name)}">"""
      rows.foreach { cells =>
        body ++= "<table:table-row>"
        cells.foreach { c =>
          body ++= s"""<table:table-cell office:value-type="string"><text:p>${Bin.xmlAttr(c)}</text:p></table:table-cell>"""
        }
        // trailing filler the reader must trim (real ODS convention)
        body ++= """<table:table-cell table:number-columns-repeated="3"/>"""
        body ++= "</table:table-row>"
      }
      body ++= "</table:table>"
    }
    val contentXml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"><office:body><office:spreadsheet>${body.toString}</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val metaXml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-meta xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:dc="http://purl.org/dc/elements/1.1/"><office:meta><dc:title>${Bin.xmlAttr(title)}</dc:title></office:meta></office:document-meta>""".stripMargin
    writeZip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.spreadsheet".getBytes("UTF-8"),
      "content.xml" -> contentXml.getBytes("UTF-8"),
      "meta.xml" -> metaXml.getBytes("UTF-8")))
  }
}
