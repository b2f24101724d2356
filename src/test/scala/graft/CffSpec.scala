package graft

import graft.extract.{Bin, Cff, PdfText}
import org.scalatest.funsuite.AnyFunSuite

/** Embedded CFF/Type1C decode ([MS — Adobe TN #5176] structures): direct
  * parse round-trips, the predefined-encoding path, handcrafted format-1
  * charset/encoding (+ supplements), CID-keyed and malformed rejection,
  * and the full PDF round-trip through /FontFile3.
  */
class CffSpec extends AnyFunSuite {

  test("round-trip: custom encoding, standard + custom SIDs") {
    // letters hit the standard strings; digits ('5' as a single-char name)
    // and uniXXXX go through the custom String INDEX
    val glyphs = Seq(1 -> "H", 2 -> "e", 3 -> "l", 4 -> "o",
      5 -> "space", 6 -> "5", 7 -> "uni00E9", 8 -> "hyphen")
    val emb = Cff.parse(Cff.build(glyphs)).getOrElse(fail("parse failed"))
    assert(emb.decode(1).contains("H"))
    assert(emb.decode(2).contains("e"))
    assert(emb.decode(5).contains(" "))
    assert(emb.decode(6).contains("5"))
    assert(emb.decode(7).contains("é"))
    assert(emb.decode(8).contains("-"))
    assert(emb.decode(99).isEmpty) // unmapped code
  }

  test("predefined standard encoding decodes through StandardEncoding") {
    val emb = Cff.parse(Cff.build(Seq(1 -> "A"), stdEncoding = true))
      .getOrElse(fail("parse failed"))
    assert(emb.decode('A'.toInt).contains("A"))
    assert(emb.decode(0xA9).contains("'")) // quotesingle in StandardEncoding
    assert(emb.decode(1).isEmpty) // control codes unmapped in Standard
  }

  test("handcrafted format-1 charset + format-1 encoding with a supplement") {
    def index(entries: Seq[Array[Byte]]): Array[Byte] = {
      val b = new Bin.Sink().u16be(entries.size)
      if (entries.nonEmpty) {
        b.u8(1) // offSize
        entries.scanLeft(1)(_ + _.length).foreach(b.u8)
        entries.foreach(b.bytes)
      }
      b.toArray
    }
    def top(charsetAt: Int, encodingAt: Int, charStringsAt: Int) = index(Seq(new Bin.Sink()
      .u8(29).u32be(charsetAt).u8(15).u8(29).u32be(encodingAt).u8(16)
      .u8(29).u32be(charStringsAt).u8(17).toArray))
    val header = Array[Byte](1, 0, 4, 4)
    val nameIdx = index(Seq("X".getBytes("US-ASCII")))
    val stringIdx = index(Nil) // no custom strings
    val gsubr = index(Nil)
    // glyphs 1..3 = SIDs 34,35,36 (A,B,C) via ONE format-1 range
    val charset = new Bin.Sink().u8(1).u16be(34).u8(2).toArray
    // encoding format 1 + supplements bit: one range code 65..66 -> glyphs
    // 1,2; supplement maps code 90 -> SID 36 (C, glyph 3 via the charset)
    val encoding = new Bin.Sink().u8(0x81).u8(1).u8(65).u8(1)
      .u8(1).u8(90).u16be(36).toArray
    val charStrings = index(Seq.fill(4)(Array(0x0e.toByte)))
    val encodingAt = header.length + nameIdx.length + top(0, 0, 0).length +
      stringIdx.length + gsubr.length
    val charsetAt = encodingAt + encoding.length
    val charStringsAt = charsetAt + charset.length
    val cff = Bin.cat(header, nameIdx, top(charsetAt, encodingAt, charStringsAt), stringIdx,
      gsubr, encoding, charset, charStrings)
    val emb = Cff.parse(cff).getOrElse(fail("parse failed"))
    assert(emb.decode(65).contains("A"))
    assert(emb.decode(66).contains("B"))
    assert(emb.decode(90).contains("C")) // via the supplement
    assert(emb.decode(67).isEmpty)
  }

  test("CID-keyed (ROS) and malformed programs are rejected, never thrown") {
    // header + name INDEX + top INDEX whose dict is just the ROS operator
    val ros = Array[Byte](1, 0, 4, 4, // header
      0, 1, 1, 1, 2, 'X', // name INDEX
      0, 1, 1, 1, 3, 12, 30) // top INDEX: dict = [12 30] (ROS)
    assert(Cff.parse(ros).isEmpty)
    assert(Cff.parse("not a font".getBytes).isEmpty)
    assert(Cff.parse(Array.emptyByteArray).isEmpty)
    assert(Cff.parse(Array[Byte](2, 0, 4, 4, 0, 0)).isEmpty) // major version 2
  }

  test("PDF round-trip: /FontFile3-only decode (no /Encoding, no /ToUnicode)") {
    val pages = Seq(
      Seq("Doc 9 page 1", "Lorem body 4", "alpha beta-1"),
      Seq("second page É", "tail 77"))
    val bytes = PdfText.buildTextPdfCFF(pages)
    // the PDF really carries no decode route besides the font program
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!raw.contains("/ToUnicode") && !raw.contains("/Encoding"))
    assert(raw.contains("/FontFile3") && raw.contains("/Type1C"))
    val texts = PdfText.pageTexts(bytes).fold(e => fail(e), identity)
    assert(texts == Seq(
      "Doc 9 page 1\nLorem body 4\nalpha beta-1",
      "second page É\ntail 77"))
  }

  // ------------------------------------------------------------ Type1
  test("Type1: dup-put encoding, raw and PFB containers") {
    import graft.extract.Type1
    val names = Seq(72 -> "H", 105 -> "i", 32 -> "space", 233 -> "eacute")
    for (pfb <- Seq(false, true)) {
      val emb = Type1.parse(Type1.build(names, pfb = pfb))
        .getOrElse(fail(s"parse failed pfb=$pfb"))
      assert(emb.decode(72).contains("H"))
      assert(emb.decode(32).contains(" "))
      assert(emb.decode(233).contains("é"))
      assert(emb.decode(99).isEmpty)
    }
  }

  test("Type1: literal StandardEncoding and rejection corners") {
    import graft.extract.Type1
    val emb = Type1.parse(Type1.build(Nil, stdEncoding = true))
      .getOrElse(fail("parse failed"))
    assert(emb.decode('A'.toInt).contains("A"))
    assert(emb.decode(0xA9).contains("'"))
    assert(Type1.parse("no percent-bang here".getBytes).isEmpty)
    assert(Type1.parse(Array.emptyByteArray).isEmpty)
    // eexec BEFORE /Encoding: encoding is in the private portion -> reject
    assert(Type1.parse(
      "%!PS-AdobeFont-1.0\ncurrentfile eexec\n/Encoding dup 65 /A put"
        .getBytes("ISO-8859-1")).isEmpty)
  }

  test("PDF round-trip: /FontFile-only decode (Type1 cleartext encoding)") {
    val pages = Seq(Seq("Doc 9 page 1", "Lorem body 4", "alpha beta-1"))
    val bytes = PdfText.buildTextPdfT1(pages)
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!raw.contains("/ToUnicode") && raw.contains("/FontFile ") &&
      raw.contains("/Length1"))
    val texts = PdfText.pageTexts(bytes).fold(e => fail(e), identity)
    assert(texts == Seq("Doc 9 page 1\nLorem body 4\nalpha beta-1"))
  }

  test("standard strings table is intact") {
    // spot anchors: a wrong split/count would shift every SID after it
    val std = Cff.StdStrings
    assert(std.length == 391)
    assert(std(0) == ".notdef" && std(1) == "space" && std(95) == "asciitilde")
    assert(std(96) == "exclamdown" && std(137) == "emdash" && std(138) == "AE")
    assert(std(170) == "copyright" && std(199) == "Zcaron" && std(228) == "zcaron")
    assert(std(229) == "exclamsmall" && std(378) == "Ydieresissmall")
    assert(std(390) == "Semibold")
  }
}
