package graft.extract

import graft.extract.Bin.{f64le => f64, u32le => u32}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Excel Binary 2007 (.xlsb) extraction — [MS-XLSB] BIFF12 records inside
  * the OOXML ZIP container. `application/vnd.ms-excel.sheet.binary.
  * macroEnabled.12` is in the reference's spreadsheet surface
  * (EXCEL_BINARY_2007_MIME_TYPE, `mime_types.py:22`; `.xlsb`,
  * `mime_types.py:133`). Output is the same sheet→pipe-table shape as the
  * XLSX/XLS routes ([[OfficeExtract.XlsxDoc]]).
  *
  * BIFF12 framing ([MS-XLSB] 2.1.4): record type is one or two bytes
  * (7 bits each, bit 7 of the first byte marks a second), record length a
  * 1-4-byte 7-bit varint. Parts used: `xl/workbook.bin` BrtBundleSh
  * records (sheet name + rId, resolved through the XML
  * `xl/_rels/workbook.bin.rels`), `xl/sharedStrings.bin` BrtSSTItem
  * strings, and per-sheet BrtRowHdr + cell records (Cell common prefix =
  * col u32 + style u24 + flags u8, [MS-XLSB] 2.5.9): BrtCellRk (RkNumber,
  * identical to the BIFF8 encoding), BrtCellReal, BrtCellBool,
  * BrtCellIsst, BrtCellSt, and the BrtFmla* cached values. Strings are
  * XLWideString (cch u32 + UTF-16LE). Unknown records skip by length, so
  * styles/dimensions/extension records pass through safely. Title from
  * `docProps/core.xml` exactly as XLSX.
  */
object XlsbExtract {

  // [MS-XLSB] 2.3 record enumeration (decimal ids)
  private val BrtRowHdr = 0x00
  private val BrtCellRk = 0x02
  private val BrtCellBool = 0x04
  private val BrtCellReal = 0x05
  private val BrtCellSt = 0x06
  private val BrtCellIsst = 0x07
  private val BrtFmlaString = 0x08
  private val BrtFmlaNum = 0x09
  private val BrtFmlaBool = 0x0A
  private val BrtSSTItem = 0x13
  private val BrtBeginBook = 0x83
  private val BrtEndBook = 0x84
  private val BrtBeginBundleShs = 0x8F
  private val BrtEndBundleShs = 0x90
  private val BrtBeginSheet = 0x81
  private val BrtEndSheet = 0x82
  private val BrtBeginSheetData = 0x91
  private val BrtEndSheetData = 0x92
  private val BrtBundleSh = 0x9C
  private val BrtBeginSst = 0x9F
  private val BrtEndSst = 0xA0


  /** XLWideString at `p`: (value, next offset). */
  private def wideStr(d: Array[Byte], p: Int): (String, Int) = {
    val cch = u32(d, p).toInt
    if (cch < 0 || p + 4 + 2L * cch > d.length)
      throw new IllegalStateException("XLWideString overruns record")
    (new String(d, p + 4, 2 * cch, java.nio.charset.StandardCharsets.UTF_16LE),
      p + 4 + 2 * cch)
  }

  /** Iterate BIFF12 records: callback(type, bodyStart, bodyLen). */
  private def records(d: Array[Byte])(f: (Int, Int, Int) => Unit): Unit = {
    var p = 0
    while (p < d.length) {
      var t = d(p) & 0xff
      p += 1
      if ((t & 0x80) != 0) {
        if (p >= d.length) throw new IllegalStateException("truncated record type")
        t = (t & 0x7f) | ((d(p) & 0x7f) << 7)
        p += 1
      }
      var len = 0
      var shift = 0
      var more = true
      while (more) {
        if (p >= d.length) throw new IllegalStateException("truncated record length")
        val b = d(p) & 0xff
        p += 1
        len |= (b & 0x7f) << shift
        shift += 7
        more = (b & 0x80) != 0 && shift < 28
      }
      if (p + len > d.length) throw new IllegalStateException("record overruns part")
      f(t, p, len)
      p += len
    }
  }

  def extract(bytes: Array[Byte]): OfficeExtract.XlsxDoc = {
    val entries = DocxExtract.readZip(bytes)
    val wb = entries.getOrElse("xl/workbook.bin",
      throw new IllegalStateException("no xl/workbook.bin part"))

    // sheet bundle: name + rId, resolved through the (XML) rels part
    val bundles = ArrayBuffer[(String, String)]() // (name, rId)
    records(wb) { (t, p, _) =>
      if (t == BrtBundleSh) {
        var q = p + 8 // hsState u32 + iTabID u32
        val relLen = u32(wb, q).toInt
        val relId =
          if (relLen == -1) "" // XLNullableWideString null
          else {
            val (s, n) = wideStr(wb, q); q = n; s
          }
        if (relLen == -1) q += 4
        val (name, _) = wideStr(wb, q)
        bundles += ((name, relId))
      }
    }
    if (bundles.isEmpty) throw new IllegalStateException("no BrtBundleSh records")
    val rels: Map[String, String] = entries.get("xl/_rels/workbook.bin.rels")
      .map(DocxExtract.parseRels).getOrElse(Map.empty)

    // shared strings
    val sst = ArrayBuffer[String]()
    entries.get("xl/sharedStrings.bin").foreach { ss =>
      records(ss) { (t, p, _) =>
        if (t == BrtSSTItem) sst += wideStr(ss, p + 1)._1 // flags u8 first
      }
    }

    val sheets = bundles.zipWithIndex.map { case ((name, relId), i) =>
      val target = rels.get(relId)
        .map(t => DocxExtract.normalizePath(if (t.startsWith("/")) t.drop(1) else "xl/" + t))
        .getOrElse(s"xl/worksheets/sheet${i + 1}.bin") // rels-less fallback
      val part = entries.getOrElse(target,
        throw new IllegalStateException(s"missing sheet part $target"))
      OfficeExtract.Sheet(name, sheetTable(part, sst.toIndexedSeq))
    }.toSeq

    val title = entries.get("docProps/core.xml")
      .map(DocxExtract.coreTitle).getOrElse("")
    OfficeExtract.XlsxDoc(title, sheets)
  }

  /** One worksheet part → markdown pipe table (XLSX shape). */
  private def sheetTable(d: Array[Byte], sst: IndexedSeq[String]): String = {
    val cells = mutable.Map[(Int, Int), String]()
    var row = 0
    records(d) { (t, p, _) =>
      def col = u32(d, p).toInt // Cell common prefix: col u32 + style/flags u32
      t match {
        case BrtRowHdr => row = u32(d, p).toInt
        case BrtCellRk => cells((row, col)) = XlsExtract.numText(XlsExtract.rkValue(u32(d, p + 8)))
        case BrtCellReal => cells((row, col)) = XlsExtract.numText(f64(d, p + 8))
        case BrtCellBool => cells((row, col)) = if (d(p + 8) != 0) "TRUE" else "FALSE"
        case BrtCellIsst =>
          val isst = u32(d, p + 8).toInt
          cells((row, col)) = sst.lift(isst)
            .getOrElse(throw new IllegalStateException(s"SST index $isst"))
        case BrtCellSt => cells((row, col)) = wideStr(d, p + 8)._1
        case BrtFmlaNum => cells((row, col)) = XlsExtract.numText(f64(d, p + 8))
        case BrtFmlaBool => cells((row, col)) = if (d(p + 8) != 0) "TRUE" else "FALSE"
        case BrtFmlaString => cells((row, col)) = wideStr(d, p + 8)._1
        case _ => () // dimensions/styles/extensions skip by length
      }
    }
    if (cells.isEmpty) return ""
    val byRow = cells.groupBy(_._1._1)
    val grid = byRow.keys.toSeq.sorted.map { r =>
      val rowCells = byRow(r)
      val maxC = rowCells.keysIterator.map(_._2).max
      (0 to maxC).map(c => rowCells.getOrElse((r, c), ""))
    }
    DocxExtract.tableMd(grid)
  }

  // ------------------------------------------------------------ writer

  /** Deterministic BIFF12 writer — the encode side of the round-trip.
    * Emits the spec container shape (BrtBeginBook/BundleShs wrappers, an
    * XML rels part, a real shared-string table, BrtBeginSheetData cell
    * blocks) with the same cell-type choices as [[XlsExtract.buildXls]]:
    * strings → SST BrtCellIsst, ints → BrtCellRk, doubles → BrtCellReal,
    * booleans → BrtCellBool.
    */
  def buildXlsb(title: String, sheets: Seq[(String, Seq[Seq[XlsExtract.XlsCell]])]): Array[Byte] = {
    import XlsExtract.{XlsBool, XlsNum, XlsRkInt, XlsStr}
    require(sheets.nonEmpty, "at least one sheet")
    def ws(b: Bin.Sink, s: String): Bin.Sink = // XLWideString
      b.u32le(s.length).bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    def rec(t: Int, body: Array[Byte]): Array[Byte] = {
      val o = new Bin.Sink(body.length + 4)
      if (t < 0x80) o.u8(t) else o.u8((t & 0x7f) | 0x80).u8((t >> 7) & 0x7f)
      var len = body.length
      var more = true
      while (more) {
        val b = len & 0x7f
        len >>>= 7
        more = len != 0
        o.u8(if (more) b | 0x80 else b)
      }
      o.bytes(body).toArray
    }
    val empty = Array.emptyByteArray

    // SST in first-appearance order
    val sstIndex = mutable.LinkedHashMap[String, Int]()
    var cstTotal = 0L
    sheets.foreach(_._2.foreach(_.foreach {
      case XlsStr(s) =>
        cstTotal += 1
        if (!sstIndex.contains(s)) sstIndex(s) = sstIndex.size
      case _ => ()
    }))
    val sstPart = Bin.cat(
      rec(BrtBeginSst, new Bin.Sink().u32le(cstTotal).u32le(sstIndex.size).toArray) +:
        sstIndex.keys.toSeq.map(s => rec(BrtSSTItem, ws(new Bin.Sink().u8(0), s).toArray)) :+
        rec(BrtEndSst, empty): _*)

    def cellPrefix(c: Int): Bin.Sink = new Bin.Sink().u32le(c).u32le(0)
    val sheetParts = sheets.map { case (_, rows) =>
      val o = new Bin.Sink().bytes(rec(BrtBeginSheet, empty)).bytes(rec(BrtBeginSheetData, empty))
      rows.zipWithIndex.foreach { case (cols, r) =>
        o.bytes(rec(BrtRowHdr, new Bin.Sink().u32le(r).u32le(0).u16le(300).toArray))
        cols.zipWithIndex.foreach { case (cell, c) =>
          o.bytes(cell match {
            case XlsStr(s) => rec(BrtCellIsst, cellPrefix(c).u32le(sstIndex(s)).toArray)
            case XlsRkInt(v) => rec(BrtCellRk, cellPrefix(c).u32le((v.toLong << 2) | 0x2L).toArray)
            case XlsNum(x) => rec(BrtCellReal, cellPrefix(c).f64le(x).toArray)
            case XlsBool(v) => rec(BrtCellBool, cellPrefix(c).u8(if (v) 1 else 0).toArray)
          })
        }
      }
      o.bytes(rec(BrtEndSheetData, empty)).bytes(rec(BrtEndSheet, empty)).toArray
    }

    val wbPart = Bin.cat(Seq(rec(BrtBeginBook, empty), rec(BrtBeginBundleShs, empty)) ++
      sheets.zipWithIndex.map { case ((name, _), i) =>
        rec(BrtBundleSh, ws(ws(new Bin.Sink().u32le(0).u32le(i + 1), s"rId${i + 1}"), name).toArray)
      } ++ Seq(rec(BrtEndBundleShs, empty), rec(BrtEndBook, empty)): _*)

    val relsXml =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.bin"/>""").mkString +
        "</Relationships>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val corePart =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n" +
        """<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
        s"<dc:title>${Bin.xmlAttr(title)}</dc:title></cp:coreProperties>")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)

    DocxExtract.writeZip(
      Seq("xl/workbook.bin" -> wbPart,
        "xl/_rels/workbook.bin.rels" -> relsXml,
        "xl/sharedStrings.bin" -> sstPart) ++
        sheetParts.zipWithIndex.map { case (p, i) => s"xl/worksheets/sheet${i + 1}.bin" -> p } ++
        (if (title.nonEmpty) Seq("docProps/core.xml" -> corePart) else Nil))
  }
}
