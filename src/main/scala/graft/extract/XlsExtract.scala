package graft.extract

import graft.extract.Bin.{f64le => f64, u16le => u16, u32le => u32}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Legacy Excel binary (.xls) extraction ([MS-XLS] BIFF8, public spec)
  * over the [[CfbExtract]] container — `application/vnd.ms-excel` is in
  * the reference's converter surface (marker_provider/provider.py:60,
  * docling_remote_provider/provider.py:52, llamaparse_provider/
  * provider.py:44; EXT_TO_MIME `.xls`, mime_types.py:131). Output is the
  * SAME sheet→pipe-table shape as the XLSX route
  * ([[OfficeExtract.XlsxDoc]]), so spans/page semantics are identical for
  * both Excel generations.
  *
  * The Workbook stream is a flat record sequence (u16 type, u16 length,
  * payload; all LE). The globals substream (BOF dt=0x0005 … EOF) carries
  * BoundSheet8 (sheet names + substream offsets) and the SST shared-string
  * table, whose strings may spill across Continue records — each spill
  * re-declares the fHighByte grbit for the character data ([MS-XLS]
  * 2.5.293). Each worksheet substream (BOF dt=0x0010 … EOF) carries cell
  * records: LabelSst, Label (inline), Number (IEEE754), RK / MulRk
  * (packed 30-bit numbers, ÷100 flag), BoolErr, and Formula cached values
  * (string results in a trailing String record). Numbers print in the
  * XLSX `<v>` convention (integral → no decimal point). Title from the
  * [MS-OLEPS] SummaryInformation property set.
  */
object XlsExtract {

  sealed trait XlsCell
  final case class XlsStr(s: String) extends XlsCell
  final case class XlsNum(d: Double) extends XlsCell
  /** Written as an RK-encoded integer (the common Excel integer cell). */
  final case class XlsRkInt(v: Int) extends XlsCell
  final case class XlsBool(b: Boolean) extends XlsCell

  private val RecBof = 0x0809
  private val RecEof = 0x000A
  private val RecContinue = 0x003C
  private val RecBoundSheet = 0x0085
  private val RecSst = 0x00FC
  private val RecLabelSst = 0x00FD
  private val RecLabel = 0x0204
  private val RecNumber = 0x0203
  private val RecRk = 0x027E
  private val RecMulRk = 0x00BD
  private val RecBoolErr = 0x0205
  private val RecFormula = 0x0006
  private val RecString = 0x0207

  /** XLSX `<v>`-convention number text: integral values without ".0". */
  private[graft] def numText(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** rk: bit0 = ÷100, bit1 = 30-bit signed int (else high-30 double bits).
    * Shared with [[XlsbExtract]] — [MS-XLSB] RkNumber (2.5.122) keeps the
    * BIFF8 encoding bit-for-bit.
    */
  private[extract] def rkValue(rk: Long): Double = {
    val base =
      if ((rk & 0x2L) != 0) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if ((rk & 0x1L) != 0) base / 100.0 else base
  }

  def extract(bytes: Array[Byte]): Either[String, OfficeExtract.XlsxDoc] =
    CfbExtract.readStreams(bytes).map { streams =>
      val wb = streams.getOrElse("Workbook",
        streams.getOrElse("Book",
          throw new IllegalStateException("no Workbook stream")))
      if (wb.length < 4 || u16(wb, 0) != RecBof)
        throw new IllegalStateException("Workbook stream does not start with BOF")
      // BIFF5 keeps per-sheet data in the same stream but with a
      // different string model; only BIFF8 (vers 0x0600) is supported
      if (u16(wb, 4) != 0x0600)
        throw new IllegalStateException(f"unsupported BIFF version 0x${u16(wb, 4)}%04X")

      // ---- globals substream: BoundSheet8 + SST (Continue-aware)
      val bounds = ArrayBuffer[(String, Int)]() // (name, lbPlyPos)
      var sst = Vector.empty[String]
      var p = 0
      var depth = 0
      var guard = 0
      while (p + 4 <= wb.length && (depth > 0 || guard == 0) && depth >= 0) {
        val t = u16(wb, p); val len = u16(wb, p + 2); val body = p + 4
        if (body + len > wb.length)
          throw new IllegalStateException("record overruns Workbook stream")
        t match {
          case RecBof => depth += 1; guard = 1
          case RecEof => depth -= 1
          case RecBoundSheet if depth == 1 =>
            val pos = u32(wb, body).toInt
            val cch = wb(body + 6) & 0xff
            val high = (wb(body + 7) & 0x01) != 0
            val name =
              if (high) new String(wb, body + 8, 2 * cch,
                java.nio.charset.StandardCharsets.UTF_16LE)
              else new String(wb, body + 8, cch,
                java.nio.charset.Charset.forName("windows-1252"))
            bounds += ((name, pos))
          case RecSst if depth == 1 =>
            sst = readSst(wb, p)
          case _ => ()
        }
        p = body + len
      }
      if (bounds.isEmpty) throw new IllegalStateException("no BoundSheet8 records")

      val title = streams.get("\u0005SummaryInformation")
        .map(CfbExtract.summaryTitle).getOrElse("")

      val sheets = bounds.toSeq.map { case (name, pos) =>
        OfficeExtract.Sheet(name, parseSheet(wb, pos, sst))
      }
      OfficeExtract.XlsxDoc(title, sheets)
    }

  /** SST at record offset `recPos`: strings read through a Continue-aware
    * cursor. Headers (cch/flags/run counts) never split in practice (the
    * spec forbids splitting them); character data may, re-declaring its
    * grbit at the spill point.
    */
  private def readSst(wb: Array[Byte], recPos: Int): Vector[String] = {
    // collect the SST body plus any immediately following Continue bodies
    val segs = ArrayBuffer[(Int, Int)]() // (start, end) in wb
    var p = recPos
    var first = true
    while (p + 4 <= wb.length &&
        (first || u16(wb, p) == RecContinue)) {
      val len = u16(wb, p + 2)
      segs += ((p + 4, p + 4 + len))
      p = p + 4 + len
      first = false
    }
    var si = 0
    var sp = segs(si)._1
    def atEnd: Boolean = si == segs.size - 1 && sp == segs(si)._2
    def hop(): Unit = // advance past an exhausted segment
      while (sp == segs(si)._2 && si < segs.size - 1) { si += 1; sp = segs(si)._1 }
    def u8(): Int = { hop(); val v = wb(sp) & 0xff; sp += 1; v }
    def rd16(): Int = { val a = u8(); a | (u8() << 8) }
    def rd32(): Long = { val a = rd16().toLong; a | (rd16().toLong << 16) }
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        hop()
        val take = math.min(left, segs(si)._2 - sp)
        if (take == 0) throw new IllegalStateException("SST truncated")
        sp += take; left -= take
      }
    }

    val cstUnique = { rd32(); rd32().toInt } // cstTotal skipped
    val out = Vector.newBuilder[String]
    var k = 0
    while (k < cstUnique) {
      val cch = rd16()
      val flags = u8()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      var high = (flags & 0x01) != 0
      val cRun = if (rich) rd16() else 0
      val cbExt = if (ext) rd32().toInt else 0
      val sb = new StringBuilder(cch)
      var left = cch
      // segment the header ended in: char data that begins at the start of
      // a LATER segment (even with zero chars consumed yet) is a spill and
      // re-declares its grbit ([MS-XLS] 2.5.293)
      val headerSeg = si
      while (left > 0) {
        hop()
        if (sp == segs(si)._2) throw new IllegalStateException("SST truncated")
        if (sp == segs(si)._1 && si > headerSeg)
          high = (u8() & 0x01) != 0 // spill: fresh grbit for the char data
        val unit = if (high) 2 else 1
        val fit = math.min(left, (segs(si)._2 - sp) / unit)
        if (fit == 0) throw new IllegalStateException("SST char split mid-unit")
        if (high) sb ++= new String(wb, sp, 2 * fit,
          java.nio.charset.StandardCharsets.UTF_16LE)
        else {
          var j = 0
          while (j < fit) { sb += (wb(sp + j) & 0xff).toChar; j += 1 }
        }
        sp += fit * unit; left -= fit
      }
      skip(4 * cRun + cbExt)
      out += sb.toString
      k += 1
      if (k < cstUnique && atEnd)
        throw new IllegalStateException("SST ended early")
    }
    out.result()
  }

  /** Worksheet substream at `pos` → markdown pipe table (XLSX shape). */
  private def parseSheet(wb: Array[Byte], pos: Int, sst: Vector[String]): String = {
    if (pos + 4 > wb.length || u16(wb, pos) != RecBof)
      throw new IllegalStateException("BoundSheet8 lbPlyPos does not point at BOF")
    val cells = mutable.Map[(Int, Int), String]() // (row, col) -> text
    var pendingStr: Option[(Int, Int)] = None // Formula awaiting String record
    var p = pos + 4 + u16(wb, pos + 2)
    var open = true
    while (open && p + 4 <= wb.length) {
      val t = u16(wb, p); val len = u16(wb, p + 2); val body = p + 4
      if (body + len > wb.length)
        throw new IllegalStateException("record overruns worksheet substream")
      def rw = u16(wb, body)
      def col = u16(wb, body + 2)
      t match {
        case RecEof => open = false
        case RecBof => throw new IllegalStateException("nested BOF in worksheet")
        case RecLabelSst =>
          val isst = u32(wb, body + 6).toInt
          cells((rw, col)) = sst.lift(isst)
            .getOrElse(throw new IllegalStateException(s"SST index $isst"))
        case RecLabel =>
          val cch = u16(wb, body + 6)
          val high = (wb(body + 8) & 0x01) != 0
          cells((rw, col)) =
            if (high) new String(wb, body + 9, 2 * cch,
              java.nio.charset.StandardCharsets.UTF_16LE)
            else new String(wb, body + 9, cch,
              java.nio.charset.Charset.forName("windows-1252"))
        case RecNumber => cells((rw, col)) = numText(f64(wb, body + 6))
        case RecRk => cells((rw, col)) = numText(rkValue(u32(wb, body + 6)))
        case RecMulRk =>
          val colFirst = u16(wb, body + 2)
          val n = (len - 6) / 6
          var j = 0
          while (j < n) {
            cells((u16(wb, body), colFirst + j)) =
              numText(rkValue(u32(wb, body + 4 + 6 * j + 2)))
            j += 1
          }
        case RecBoolErr =>
          if ((wb(body + 7) & 0xff) == 0) // fError=0: boolean (errors skip)
            cells((rw, col)) = if (wb(body + 6) != 0) "TRUE" else "FALSE"
        case RecFormula =>
          // cached value: bytes 6..13; fExprO = 0xFFFF in the top u16
          // marks a non-numeric result (0=string via String record,
          // 1=bool, 3=blank)
          if (u16(wb, body + 12) == 0xFFFF) (wb(body + 6) & 0xff) match {
            case 0 => pendingStr = Some((rw, col))
            case 1 => cells((rw, col)) = if (wb(body + 8) != 0) "TRUE" else "FALSE"
            case _ => ()
          } else cells((rw, col)) = numText(f64(wb, body + 6))
        case RecString =>
          pendingStr.foreach { rc =>
            val cch = u16(wb, body)
            val high = (wb(body + 2) & 0x01) != 0
            cells(rc) =
              if (high) new String(wb, body + 3, 2 * cch,
                java.nio.charset.StandardCharsets.UTF_16LE)
              else new String(wb, body + 3, cch,
                java.nio.charset.Charset.forName("windows-1252"))
          }
          pendingStr = None
        case _ => ()
      }
      p = body + len
    }
    if (open) throw new IllegalStateException("worksheet substream missing EOF")
    if (cells.isEmpty) return ""
    // one O(cells) grouping pass — rebuilding the column set per row would
    // make grid assembly O(rows × cells) on wide real-world sheets
    val byRow = cells.groupBy(_._1._1)
    val grid = byRow.keys.toSeq.sorted.map { r =>
      val rowCells = byRow(r)
      val maxC = rowCells.keysIterator.map(_._2).max
      (0 to maxC).map(c => rowCells.getOrElse((r, c), ""))
    }
    DocxExtract.tableMd(grid)
  }

  // ------------------------------------------------------------ writer

  /** Deterministic BIFF8 writer — the encode side of the q_xls round-trip.
    * Strings go through a real SST (first-appearance order); integers as
    * RK, doubles as Number, booleans as BoolErr. `continueSplit` forces
    * the SST to spill into a Continue record after the first string (grbit
    * re-declared), exercising the spill path the spec allows at any size;
    * `continueAtStart` places the split BEFORE the second string's first
    * character (header last in the SST record, all chars in the Continue) —
    * the boundary layout [MS-XLS] 2.5.293 also allows.
    */
  def buildXls(title: String, sheets: Seq[(String, Seq[Seq[XlsCell]])],
      continueSplit: Boolean = false, continueAtStart: Boolean = false): Array[Byte] = {
    require(sheets.nonEmpty, "at least one sheet")
    def rec(t: Int, body: Array[Byte]): Array[Byte] = {
      require(body.length <= 8224, "record body over BIFF8 cap")
      new Bin.Sink(4 + body.length).u16le(t).u16le(body.length).bytes(body).toArray
    }
    def bof(dt: Int): Array[Byte] =
      rec(RecBof, new Bin.Sink().u16le(0x0600).u16le(dt).u16le(0x0DBB).u16le(0x07CC)
        .u32le(0xC1L).u32le(0x0206L).toArray)
    val eof = rec(RecEof, Array.emptyByteArray)

    // SST: unique strings in first-appearance order
    val sstIndex = mutable.LinkedHashMap[String, Int]()
    var cstTotal = 0L
    sheets.foreach(_._2.foreach(_.foreach {
      case XlsStr(s) =>
        cstTotal += 1
        if (!sstIndex.contains(s)) sstIndex(s) = sstIndex.size
      case _ => ()
    }))
    def strBytes(s: String): Array[Byte] = {
      val ascii = s.forall(c => c >= ' ' && c < 0x7f)
      val b = new Bin.Sink().u16le(s.length).u8(if (ascii) 0 else 1)
      if (ascii) b.bytes(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      else b.bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
      b.toArray
    }
    val sstStrings = sstIndex.keys.toSeq
    val sstRecs: Array[Byte] =
      if ((continueSplit || continueAtStart) && sstStrings.size >= 2) {
        // first string (and its header) in the SST record; the SECOND
        // string's characters split mid-string into a Continue that
        // re-declares the grbit — the [MS-XLS] 2.5.293 spill shape
        val s2 = sstStrings(1)
        require(s2.length >= 2, "continueSplit needs a 2nd string of 2+ chars")
        val ascii2 = s2.forall(c => c >= ' ' && c < 0x7f)
        val halfN = if (continueAtStart) 0 else s2.length / 2
        val (part1, part2) = s2.splitAt(halfN)
        def chars(t: String): Array[Byte] =
          if (ascii2) t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          else t.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
        val head = new Bin.Sink().u32le(cstTotal).u32le(sstIndex.size.toLong)
          .bytes(strBytes(sstStrings.head))
          .u16le(s2.length).u8(if (ascii2) 0 else 1).bytes(chars(part1))
        val cont = new Bin.Sink().u8(if (ascii2) 0 else 1).bytes(chars(part2))
        sstStrings.drop(2).foreach(s => cont.bytes(strBytes(s)))
        rec(RecSst, head.toArray) ++ rec(RecContinue, cont.toArray)
      } else {
        val b = new Bin.Sink().u32le(cstTotal).u32le(sstIndex.size.toLong)
        sstStrings.foreach(s => b.bytes(strBytes(s)))
        rec(RecSst, b.toArray)
      }

    val sheetBodies = sheets.map { case (_, rows) =>
      val b = new Bin.Sink().bytes(bof(0x0010))
      rows.zipWithIndex.foreach { case (cols, r) =>
        cols.zipWithIndex.foreach { case (cell, c) =>
          val base = new Bin.Sink().u16le(r).u16le(c).u16le(0) // rw, col, ixfe
          b.bytes(cell match {
            case XlsStr(s) => rec(RecLabelSst, base.u32le(sstIndex(s).toLong).toArray)
            case XlsNum(d) => rec(RecNumber, base.f64le(d).toArray)
            case XlsRkInt(v) => rec(RecRk, base.u32le((v.toLong << 2) | 0x2L).toArray)
            case XlsBool(v) => rec(RecBoolErr, base.u8(if (v) 1 else 0).u8(0).toArray)
          })
        }
      }
      b.bytes(eof).toArray
    }

    // globals: BOF + BoundSheet8* + SST + EOF, lbPlyPos patched by layout
    def boundSheet(name: String, pos: Int): Array[Byte] = {
      val ascii = name.forall(c => c >= ' ' && c < 0x7f)
      val b = new Bin.Sink().u32le(pos.toLong).u8(0).u8(0).u8(name.length)
        .u8(if (ascii) 0 else 1)
      if (ascii) b.bytes(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      else b.bytes(name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
      rec(RecBoundSheet, b.toArray)
    }
    val fixedLen = bof(0x0005).length +
      sheets.map(s => boundSheet(s._1, 0).length).sum + sstRecs.length + eof.length
    val offsets = sheetBodies.scanLeft(fixedLen)(_ + _.length)
    val bounds = sheets.zipWithIndex.map { case ((name, _), i) => boundSheet(name, offsets(i)) }
    val wb = Bin.cat(Seq(bof(0x0005)) ++ bounds ++ Seq(sstRecs, eof) ++ sheetBodies: _*)

    CfbExtract.build(Seq(
      "Workbook" -> wb,
      "\u0005SummaryInformation" -> CfbExtract.buildSummary(title)))
  }
}
