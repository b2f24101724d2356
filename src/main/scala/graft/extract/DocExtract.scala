package graft.extract

import graft.extract.Bin.{u16le => u16, u32le => u32}
import scala.collection.mutable.ArrayBuffer

/** Legacy Word binary (.doc) text extraction ([MS-DOC], public spec) over
  * the [[CfbExtract]] container — the reference routes `application/msword`
  * through MarkItDown (`markitdown_provider/provider.py:38`); here the
  * piece table is read directly: FIB → fWhichTblStm selects 0Table/1Table,
  * fcClx/lcbClx locate the Clx, its Pcdt's PlcPcd maps CP ranges to file
  * offsets with the fCompressed bit choosing CP-1252 (8-bit at fc/2) or
  * UTF-16LE (at fc) per piece. Only the main-document range (ccpText) is
  * emitted. Title from the (\u0005-prefixed) SummaryInformation property set.
  *
  * Text-to-block mapping, into the flow shape ([[DocxExtract.DocxDoc]]):
  * 0x0D = paragraph mark, 0x0C = page break (its own break, like RTF's
  * \page with multiplicity), 0x0B (vertical tab / line break) → newline
  * inside the paragraph, 0x07 (cell/row mark) → paragraph mark (tables
  * degrade to cell paragraphs — the documented bound; full SPRM/TAP table
  * reconstruction is out of scope), field separators 0x13/0x14/0x15 and
  * hyperlink markers drop.
  */
object DocExtract {

  import DocxExtract.{Block, DocxDoc, PageBreak, Para}

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def extract(bytes: Array[Byte]): Either[String, DocxDoc] =
    CfbExtract.readStreams(bytes).map { streams =>
      val wd = streams.getOrElse("WordDocument",
        throw new IllegalStateException("no WordDocument stream"))
      require(u16(wd, 0) == 0xA5EC, "bad FIB wIdent (not a Word binary)")
      val flags = u16(wd, 0x0A)
      val tableName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
      val table = streams.getOrElse(tableName,
        throw new IllegalStateException(s"no $tableName stream"))
      // FIB variable parts: csw @0x20, FibRgW97 (2*csw), cslw,
      // FibRgLw97 (4*cslw) with ccpText at +12, cbRgFcLcb, then the
      // (fc,lcb) pairs — fcClx/lcbClx are pair 33
      val csw = u16(wd, 0x20)
      val lwBase = 0x22 + 2 * csw + 2
      val cslw = u16(wd, lwBase - 2)
      val ccpText = u32(wd, lwBase + 12).toInt
      val fcLcbBase = lwBase + 4 * cslw + 2
      val fcClx = u32(wd, fcLcbBase + 33 * 8).toInt
      val lcbClx = u32(wd, fcLcbBase + 33 * 8 + 4).toInt
      require(fcClx >= 0 && lcbClx > 0 && fcClx + lcbClx <= table.length, "bad Clx range")

      // Clx: skip Prcs (clxt 0x01), then Pcdt (clxt 0x02)
      var p = fcClx
      while ((table(p) & 0xff) == 0x01) p += 3 + u16(table, p + 1)
      require((table(p) & 0xff) == 0x02, "no Pcdt in Clx")
      val lcb = u32(table, p + 1).toInt
      val plc = p + 5
      val n = (lcb - 4) / 12
      require(n > 0, "empty piece table")
      val cps = (0 to n).map(i => u32(table, plc + 4 * i).toInt)

      val sb = new StringBuilder
      var i = 0
      while (i < n && sb.length < ccpText) {
        val pcd = plc + 4 * (n + 1) + 8 * i
        val fcRaw = u32(table, pcd + 2)
        val compressed = (fcRaw & 0x40000000L) != 0
        val off = (fcRaw & 0x3FFFFFFFL).toInt
        val chars = math.min(cps(i + 1) - cps(i), ccpText - sb.length)
        if (compressed)
          sb ++= new String(wd, off / 2, chars, Cp1252)
        else
          sb ++= new String(wd, off, chars * 2, java.nio.charset.StandardCharsets.UTF_16LE)
        i += 1
      }

      val blocks = ArrayBuffer[Block]()
      val cur = new StringBuilder
      def flush(): Unit = {
        val t = DocxExtract.collapseWs(cur.toString)
        if (t.nonEmpty) blocks += Para(t)
        cur.clear()
      }
      // fields: 0x13 begins a field (INSTRUCTION phase -- the raw field
      // code like HYPERLINK/PAGEREF plus switches, skipped entirely),
      // 0x14 separates (RESULT phase -- the display text, kept), 0x15
      // ends. Fields nest (a TOC's result contains PAGEREF fields), so
      // the phase is a stack.
      val fieldPhase = scala.collection.mutable.Stack[Boolean]() // true = instruction
      def inInstruction: Boolean = fieldPhase.exists(identity)
      sb.foreach {
        case '\u0013' => fieldPhase.push(true)
        case '\u0014' =>
          if (fieldPhase.nonEmpty) { fieldPhase.pop(); fieldPhase.push(false) }
        case '\u0015' => if (fieldPhase.nonEmpty) { fieldPhase.pop(); () }
        case _ if inInstruction => ()
        case '\r' | '\u0007' => flush()
        case '\f' => flush(); blocks += PageBreak
        case '\u000B' => cur += '\n'
        case c if c < ' ' && c != '\t' && c != '\n' => ()
        case c => cur += c
      }
      flush()

      val title = streams.get("\u0005SummaryInformation")
        .map(CfbExtract.summaryTitle).getOrElse("")
      DocxDoc(title, blocks.toSeq)
    }

  // ------------------------------------------------------------ writer
  /** Deterministic .doc fixture: two pieces exercise BOTH piece decodings —
    * the first half of the paragraphs as a compressed (CP-1252) piece, the
    * rest as a UTF-16LE piece. `pageBreakBefore` = paragraph indices that a
    * page break precedes (each round-trips as a [[DocxExtract.PageBreak]]
    * block).
    */
  def buildDoc(
      title: String,
      paragraphs: Seq[String],
      pageBreakBefore: Seq[Int] = Nil): Array[Byte] = {
    require(paragraphs.nonEmpty, "at least one paragraph")
    val text = new StringBuilder
    paragraphs.zipWithIndex.foreach { case (para, i) =>
      if (pageBreakBefore.contains(i)) text += '\f'
      text ++= para
      text += '\r'
    }
    val full = text.toString
    val split = full.length / 2
    // CP-1252 can hold any Latin-1 fixture text; keep piece 1 pure-ASCII
    // safe by splitting at a char boundary (every char is one code unit)
    val piece1 = full.substring(0, split)
    val piece2 = full.substring(split)

    val textStart = 0x0200
    val p1Bytes = piece1.getBytes(Cp1252)
    val p2Bytes = piece2.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)

    // 1Table: Clx = one Prc-free Pcdt
    val nPieces = 2
    val clx = new Bin.Sink().u8(0x02)
      .u32le(4 * (nPieces + 1) + 8 * nPieces) // lcb
      .u32le(0).u32le(piece1.length).u32le(full.length) // CPs
      // PCD 1: compressed -> fc = 2*byteOffset | 0x40000000
      .u16le(0).u32le((2L * textStart) | 0x40000000L).u16le(0)
      // PCD 2: UTF-16LE at byte offset
      .u16le(0).u32le(textStart.toLong + p1Bytes.length).u16le(0)
      .toArray

    // FIB, then the text at textStart
    val lwBase = 0x22 + 2 * 14 + 2
    val fcLcbBase = lwBase + 4 * 22 + 2
    val wd = new Bin.Sink(textStart + p1Bytes.length + p2Bytes.length)
      .u16le(0xA5EC) // wIdent
      .u16le(0x00C1) // nFib (Word 97)
      .padTo(0x0A).u16le(0x0200) // fWhichTblStm = 1 -> 1Table
      .padTo(0x20).u16le(14) // csw
      .padTo(lwBase - 2).u16le(22) // cslw
      .padTo(lwBase + 12).u32le(full.length) // ccpText
      .padTo(fcLcbBase - 2).u16le(93) // cbRgFcLcb (Word 97)
      // fcClx = 0 (Clx at the start of 1Table), lcbClx
      .padTo(fcLcbBase + 33 * 8).u32le(0).u32le(clx.length)
      .padTo(textStart).bytes(p1Bytes).bytes(p2Bytes)
      .toArray

    CfbExtract.build(Seq(
      "WordDocument" -> wd,
      "1Table" -> clx,
      "\u0005SummaryInformation" -> CfbExtract.buildSummary(title)))
  }
}
