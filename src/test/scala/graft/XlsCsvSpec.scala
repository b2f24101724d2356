package graft

import graft.extract.{CsvExtract, XlsExtract}
import graft.extract.XlsExtract.{XlsBool, XlsNum, XlsRkInt, XlsStr}
import org.scalatest.funsuite.AnyFunSuite

/** Legacy .xls (BIFF8) and delimited-text (.csv/.tsv) extraction:
  * writer→reader round-trips through the REAL ingestion route plus the
  * spec corners (SST Continue spill with grbit re-declare, RK negative /
  * ÷100 encodings, MulRk, inline Label, Formula cached values, RFC 4180
  * quoting).
  */
class XlsCsvSpec extends AnyFunSuite {

  // ------------------------------------------------------------ .xls
  test(".xls round-trip: strings, RK ints, doubles, bools, two sheets") {
    val sheets = Seq(
      ("Data", Seq(
        Seq[XlsExtract.XlsCell](XlsStr("Name"), XlsStr("Qty"), XlsStr("Price")),
        Seq[XlsExtract.XlsCell](XlsStr("alpha"), XlsRkInt(-7), XlsNum(2.5)),
        Seq[XlsExtract.XlsCell](XlsStr("beta"), XlsRkInt(42), XlsBool(true)))),
      ("Nötes", Seq(
        Seq[XlsExtract.XlsCell](XlsStr("ünïcode cell")))))
    val bytes = XlsExtract.buildXls("Ledger T", sheets)
    val doc = XlsExtract.extract(bytes).fold(e => fail(e), identity)
    assert(doc.title == "Ledger T")
    assert(doc.sheets.map(_.name) == Seq("Data", "Nötes"))
    assert(doc.sheets.head.tableMd ==
      "|Name|Qty|Price|\n|---|---|---|\n|alpha|-7|2.5|\n|beta|42|TRUE|")
    assert(doc.sheets(1).tableMd == "|ünïcode cell|\n|---|")
  }

  test(".xls SST Continue spill re-declares the grbit (both char widths)") {
    for (second <- Seq("plain ascii tail", "ünïcode tail ö")) {
      val sheets = Seq(("S", Seq(
        Seq[XlsExtract.XlsCell](XlsStr("first")),
        Seq[XlsExtract.XlsCell](XlsStr(second)),
        Seq[XlsExtract.XlsCell](XlsStr("third")))))
      val split = XlsExtract.buildXls("t", sheets, continueSplit = true)
      val whole = XlsExtract.buildXls("t", sheets)
      // char data starting EXACTLY at the Continue boundary (header last
      // in the SST record) also re-declares the grbit there
      val atStart = XlsExtract.buildXls("t", sheets, continueAtStart = true)
      assert(!split.sameElements(whole)) // the spill actually happened
      assert(!atStart.sameElements(split))
      for (b <- Seq(split, whole, atStart)) {
        val doc = XlsExtract.extract(b).fold(e => fail(e), identity)
        assert(doc.sheets.head.tableMd ==
          s"|first|\n|---|\n|$second|\n|third|")
      }
    }
  }

  test(".xls handcrafted records: MulRk, inline Label, Formula cached values") {
    // writer emits none of these — craft the records directly and splice
    // them into a built workbook's sheet substream
    def r16(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def r32(v: Long) = r16((v & 0xffff).toInt) ++ r16(((v >> 16) & 0xffff).toInt)
    def rec(t: Int, body: Seq[Byte]) = (r16(t) ++ r16(body.length) ++ body).toArray
    def f64(d: Double) = {
      val bits = java.lang.Double.doubleToLongBits(d)
      (0 until 8).map(k => ((bits >> (8 * k)) & 0xff).toByte)
    }
    val bof = rec(0x0809, r16(0x0600) ++ r16(0x0010) ++ r16(0) ++ r16(0) ++ r32(0) ++ r32(0))
    val eofR = rec(0x000A, Nil)
    // row 0: MulRk cols 0-2 = 10, -0.25 (int 25 with /100), 3.5 (float RK)
    val rk10 = (10L << 2) | 0x2L
    val rkDiv = (((-25L << 2) | 0x3L)) & 0xFFFFFFFFL // int -25, /100
    val rkF = (java.lang.Double.doubleToLongBits(3.5) >> 32) & 0xFFFFFFFCL
    val mulrk = rec(0x00BD, r16(0) ++ r16(0) ++
      (r16(0) ++ r32(rk10)) ++ (r16(0) ++ r32(rkDiv)) ++ (r16(0) ++ r32(rkF)) ++ r16(2))
    // row 1: inline Label "inline!", Formula→cached number 7,
    // Formula→cached string via String record
    val label = rec(0x0204, r16(1) ++ r16(0) ++ r16(0) ++ r16(7) ++ Seq(0.toByte) ++
      "inline!".getBytes("US-ASCII").toSeq)
    val fNum = rec(0x0006, r16(1) ++ r16(1) ++ r16(0) ++ f64(7.0) ++ r16(0) ++ r32(0) ++ r16(0))
    val fStr = rec(0x0006, r16(1) ++ r16(2) ++ r16(0) ++
      Seq[Byte](0, 0, 0, 0, 0, 0) ++ r16(0xFFFF) ++ r16(0) ++ r32(0) ++ r16(0))
    val strRec = rec(0x0207, r16(6) ++ Seq(0.toByte) ++ "cached".getBytes("US-ASCII").toSeq)
    val sheet = bof ++ mulrk ++ label ++ fNum ++ fStr ++ strRec ++ eofR

    val gBof = rec(0x0809, r16(0x0600) ++ r16(0x0005) ++ r16(0) ++ r16(0) ++ r32(0) ++ r32(0))
    val name = "Hand"
    val bs = rec(0x0085, r32(0) ++ Seq(0.toByte, 0.toByte, name.length.toByte, 0.toByte) ++
      name.getBytes("US-ASCII").toSeq)
    val globals = gBof ++ bs ++ eofR
    // patch lbPlyPos (body offset 0 of the BoundSheet8 record)
    val pos = globals.length
    globals(gBof.length + 4) = (pos & 0xff).toByte
    globals(gBof.length + 5) = ((pos >> 8) & 0xff).toByte
    val wb = globals ++ sheet
    val cfb = graft.extract.CfbExtract.build(Seq("Workbook" -> wb))
    val doc = XlsExtract.extract(cfb).fold(e => fail(e), identity)
    assert(doc.sheets.head.tableMd ==
      "|10|-0.25|3.5|\n|---|---|---|\n|inline!|7|cached|")
  }

  test(".xls through the REAL ingestion route emits spreadsheet spans") {
    val bytes = XlsExtract.buildXls("", Seq(
      ("One", Seq(Seq[XlsExtract.XlsCell](XlsStr("a"), XlsRkInt(1))))))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("ledger.xls", bytes))
    assert(out.failure.isEmpty, out.failure)
    assert(out.title == "ledger") // stem fallback when no summary title
    assert(out.page_count == 1)
    assert(out.spans.map(_.kind) == Seq("page_break", "text", "text"))
    assert(out.spans(1).text == "## One")
    assert(out.spans(2).text == "|a|1|\n|---|---|")
    assert(out.metadata("xls_sheets") == "1")
  }

  test(".xls rejects garbage and non-BIFF8 as failure rows") {
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("bad.xls", "not a cfb".getBytes))
    assert(out.failure.nonEmpty)
    // a CFB container whose Workbook stream is BIFF5 (vers 0x0500)
    val biff5 = graft.extract.CfbExtract.build(Seq("Workbook" ->
      Array[Byte](0x09, 0x08, 4, 0, 0x00, 0x05, 0x05, 0x00)))
    val out5 = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("old.xls", biff5))
    assert(out5.failure.nonEmpty && out5.failure.contains("BIFF"))
  }

  test(".xlsm routes through the XLSX parser (ZIP container, vba ignored)") {
    val bytes = graft.extract.OfficeExtract.buildXlsx("Macro Wb",
      Seq(("M", Seq(Seq("h"), Seq("v")))))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("macro.xlsm", bytes))
    assert(out.failure.isEmpty, out.failure)
    assert(out.mime_type == "application/vnd.ms-excel.sheet.macroEnabled.12")
    assert(out.title == "Macro Wb")
    assert(out.spans.exists(_.text == "|h|\n|---|\n|v|"))
  }

  // ------------------------------------------------------------ .xlsb
  test(".xlsb round-trip: BIFF12 records, SST, RK/Real/Bool, two sheets") {
    val sheets = Seq(
      ("Data", Seq(
        Seq[XlsExtract.XlsCell](XlsStr("Name"), XlsStr("Qty"), XlsStr("Price")),
        Seq[XlsExtract.XlsCell](XlsStr("alpha"), XlsRkInt(-7), XlsNum(2.5)),
        Seq[XlsExtract.XlsCell](XlsStr("beta"), XlsRkInt(42), XlsBool(true)))),
      ("Nötes", Seq(
        Seq[XlsExtract.XlsCell](XlsStr("ünïcode cell")))))
    val bytes = graft.extract.XlsbExtract.buildXlsb("Binary Wb", sheets)
    val doc = graft.extract.XlsbExtract.extract(bytes)
    assert(doc.title == "Binary Wb")
    assert(doc.sheets.map(_.name) == Seq("Data", "Nötes"))
    assert(doc.sheets.head.tableMd ==
      "|Name|Qty|Price|\n|---|---|---|\n|alpha|-7|2.5|\n|beta|42|TRUE|")
    assert(doc.sheets(1).tableMd == "|ünïcode cell|\n|---|")
    // the BIFF8 and BIFF12 writers agree cell-for-cell
    val b8 = XlsExtract.extract(XlsExtract.buildXls("Binary Wb", sheets))
      .fold(e => fail(e), identity)
    assert(b8.sheets.map(_.tableMd) == doc.sheets.map(_.tableMd))
  }

  test(".xlsb/.xlam/.xla route through ingestion to the right parsers") {
    val sheets = Seq(("S", Seq(
      Seq[XlsExtract.XlsCell](XlsStr("h")), Seq[XlsExtract.XlsCell](XlsRkInt(3)))))
    val xlsb = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "wb.xlsb", graft.extract.XlsbExtract.buildXlsb("", sheets)))
    assert(xlsb.failure.isEmpty, xlsb.failure)
    assert(xlsb.mime_type == "application/vnd.ms-excel.sheet.binary.macroEnabled.12")
    assert(xlsb.spans.exists(_.text == "|h|\n|---|\n|3|"))
    // .xlam = XLSX ZIP container; .xla = 97-2003 CFB/BIFF8 workbook
    val xlam = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "addin.xlam", graft.extract.OfficeExtract.buildXlsx("", Seq(("S", Seq(Seq("h"), Seq("3")))))))
    assert(xlam.failure.isEmpty, xlam.failure)
    assert(xlam.mime_type == "application/vnd.ms-excel.addin.macroEnabled.12")
    assert(xlam.spans.exists(_.text == "|h|\n|---|\n|3|"))
    val xla = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "tmpl.xla", XlsExtract.buildXls("", sheets)))
    assert(xla.failure.isEmpty, xla.failure)
    assert(xla.mime_type == "application/vnd.ms-excel.template.macroEnabled.12")
    assert(xla.spans.exists(_.text == "|h|\n|---|\n|3|"))
    // malformed .xlsb is a failure row, not an exception
    val bad = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "bad.xlsb", "not a zip".getBytes))
    assert(bad.failure.nonEmpty && bad.failure.contains("xlsb_parse_error"))
  }

  // ------------------------------------------------------------ csv/tsv
  test("csv RFC 4180 corners: quotes, embedded delimiter, CRLF, ragged pad") {
    val csv = "a,b,c\r\n\"x, y\",\"say \"\"hi\"\"\",3\nshort,row\n"
    assert(CsvExtract.toTableMd(csv, ',') ==
      "|a|b|c|\n|---|---|---|\n|x, y|say \"hi\"|3|\n|short|row||")
  }

  test("csv quoted embedded newline and empty input") {
    // a quoted newline must not split the table row: it renders as <br>
    assert(CsvExtract.toTableMd("h1,h2\n\"line1\nline2\",v\n", ',') ==
      "|h1|h2|\n|---|---|\n|line1<br>line2|v|")
    assert(CsvExtract.toTableMd("", ',') == "")
    assert(CsvExtract.toTableMd("\n\n", ',') == "")
  }

  test("csv cells with pipes escape; all-empty records survive") {
    // '|' in a cell would shift every later column without the escape
    assert(CsvExtract.toTableMd("name,note\nwidget,\"good | cheap\"\n", ',') ==
      "|name|note|\n|---|---|\n|widget|good \\| cheap|")
    // `,,` is a valid RFC 4180 record of empty fields, not a blank line
    assert(CsvExtract.toTableMd("a,b,c\n,,\nd,e,f\n", ',') ==
      "|a|b|c|\n|---|---|---|\n||||\n|d|e|f|")
    // a single quoted-empty field is a data row too; bare blank lines drop
    assert(CsvExtract.toTableMd("h\n\"\"\n\nx\n", ',') ==
      "|h|\n|---|\n||\n|x|")
  }

  test("tsv through the REAL ingestion route (quotes stay literal mid-cell)") {
    val tsv = "k\tnote\n1\tsay \"hi\"\n"
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("t.tsv", tsv.getBytes("UTF-8")))
    assert(out.failure.isEmpty, out.failure)
    assert(out.page_count == 1)
    assert(out.spans.map(_.kind) == Seq("text"))
    assert(out.spans.head.text == "|k|note|\n|---|---|\n|1|say \"hi\"|")
  }

  test("csv through ingestion matches the tsv table for identical cells") {
    val csvOut = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("d.csv", "a,b\n1,2\n".getBytes("UTF-8")))
    val tsvOut = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("d.tsv", "a\tb\n1\t2\n".getBytes("UTF-8")))
    assert(csvOut.spans == tsvOut.spans)
    assert(csvOut.mime_type == "text/csv")
    assert(tsvOut.mime_type == "text/tab-separated-values")
  }
}
