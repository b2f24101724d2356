package graft.extract

import graft.extract.Bin.{u8, u16be => u16}
import scala.collection.mutable

/** Embedded CFF (Compact Font Format / "Type1C") decode — the OTHER
  * wild-PDF embedded-font family: PostScript-flavored subsetted fonts ship
  * as /FontFile3 (PDF 32000-1 §9.9, /Subtype /Type1C) and, like their
  * TrueType siblings, frequently drop /ToUnicode and /Encoding. Built from
  * the PUBLIC CFF spec (Adobe Technical Note #5176: header, INDEX and DICT
  * structures, charsets formats 0/1/2, encodings formats 0/1 with
  * supplements, the 391 standard strings) — NOT a port of any font
  * library. The reference reads such PDFs through its external ML
  * providers (marker_provider/provider.py:37-126); here the decode is
  * in-engine.
  *
  * Decode contract (mirrored EXACTLY by `tools/pdf_text_oracle.py`, the
  * independent second implementation — change BOTH or neither):
  *   1. code → glyph via the font's embedded Encoding (format 0/1; high-bit
  *      supplements map code → SID and resolve to the glyph through the
  *      charset); the PREDEFINED standard encoding (offset 0) decodes the
  *      code directly through Adobe StandardEncoding
  *      ([[Encodings.base]]) — same text, no name hop;
  *   2. glyph → SID via the charset (format 0 = explicit SIDs, 1/2 =
  *      ranges; predefined charset 0 = ISOAdobe identity);
  *   3. SID → glyph name (index < 391 → standard strings, else the String
  *      INDEX), then name → text via the AGL subset
  *      ([[Encodings.glyphChar]]); U+FFFD means failure (fall through to
  *      the caller's chain).
  * CID-keyed fonts (/ROS in the Top DICT: charset carries CIDs, not
  * names) and the Expert flavors return None — an honest bound, the
  * caller degrades to the pre-CFF behavior.
  */
object Cff {

  /** The 391 CFF standard strings (Tech Note #5176 Appendix A), one
    * whitespace-joined constant so the Python oracle can carry the
    * byte-identical string.
    */
  private val StdStringsStr: String =
    ".notdef space exclam quotedbl numbersign dollar percent ampersand quoteright parenleft parenright asterisk plus comma hyphen period slash zero one two three four five six seven eight nine colon semicolon less equal greater question at A B C D E F G H I J K L M N O P Q R S T U V W X Y Z bracketleft backslash bracketright asciicircum underscore quoteleft a b c d e f g h i j k l m n o p q r s t u v w x y z braceleft bar braceright asciitilde exclamdown cent sterling fraction yen florin section currency quotesingle quotedblleft guillemotleft guilsinglleft guilsinglright fi fl endash dagger daggerdbl periodcentered paragraph bullet quotesinglbase quotedblbase quotedblright guillemotright ellipsis perthousand questiondown grave acute circumflex tilde macron breve dotaccent dieresis ring cedilla hungarumlaut ogonek caron emdash AE ordfeminine Lslash Oslash OE ordmasculine ae dotlessi lslash oslash oe germandbls onesuperior logicalnot mu trademark Eth onehalf plusminus Thorn onequarter divide brokenbar degree thorn threequarters twosuperior registered minus eth multiply threesuperior copyright Aacute Acircumflex Adieresis Agrave Aring Atilde Ccedilla Eacute Ecircumflex Edieresis Egrave Iacute Icircumflex Idieresis Igrave Ntilde Oacute Ocircumflex Odieresis Ograve Otilde Scaron Uacute Ucircumflex Udieresis Ugrave Yacute Ydieresis Zcaron aacute acircumflex adieresis agrave aring atilde ccedilla eacute ecircumflex edieresis egrave iacute icircumflex idieresis igrave ntilde oacute ocircumflex odieresis ograve otilde scaron uacute ucircumflex udieresis ugrave yacute ydieresis zcaron exclamsmall Hungarumlautsmall dollaroldstyle dollarsuperior ampersandsmall Acutesmall parenleftsuperior parenrightsuperior twodotenleader onedotenleader zerooldstyle oneoldstyle twooldstyle threeoldstyle fouroldstyle fiveoldstyle sixoldstyle sevenoldstyle eightoldstyle nineoldstyle commasuperior threequartersemdash periodsuperior questionsmall asuperior bsuperior centsuperior dsuperior esuperior isuperior lsuperior msuperior nsuperior osuperior rsuperior ssuperior tsuperior ff ffi ffl parenleftinferior parenrightinferior Circumflexsmall hyphensuperior Gravesmall Asmall Bsmall Csmall Dsmall Esmall Fsmall Gsmall Hsmall Ismall Jsmall Ksmall Lsmall Msmall Nsmall Osmall Psmall Qsmall Rsmall Ssmall Tsmall Usmall Vsmall Wsmall Xsmall Ysmall Zsmall colonmonetary onefitted rupiah Tildesmall exclamdownsmall centoldstyle Lslashsmall Scaronsmall Zcaronsmall Dieresissmall Brevesmall Caronsmall Dotaccentsmall Macronsmall figuredash hypheninferior Ogoneksmall Ringsmall Cedillasmall questiondownsmall oneeighth threeeighths fiveeighths seveneighths onethird twothirds zerosuperior foursuperior fivesuperior sixsuperior sevensuperior eightsuperior ninesuperior zeroinferior oneinferior twoinferior threeinferior fourinferior fiveinferior sixinferior seveninferior eightinferior nineinferior centinferior dollarinferior periodinferior commainferior Agravesmall Aacutesmall Acircumflexsmall Atildesmall Adieresissmall Aringsmall AEsmall Ccedillasmall Egravesmall Eacutesmall Ecircumflexsmall Edieresissmall Igravesmall Iacutesmall Icircumflexsmall Idieresissmall Ethsmall Ntildesmall Ogravesmall Oacutesmall Ocircumflexsmall Otildesmall Odieresissmall OEsmall Oslashsmall Ugravesmall Uacutesmall Ucircumflexsmall Udieresissmall Yacutesmall Thornsmall Ydieresissmall 001.000 001.001 001.002 001.003 Black Bold Book Light Medium Regular Roman Semibold"

  private[graft] val StdStrings: Array[String] = {
    val a = StdStringsStr.split(' ')
    require(a.length == 391, s"CFF standard strings must have 391 entries, got ${a.length}")
    a
  }

  /** Parsed decode maps; see the object scaladoc for the resolution order. */
  final class Embedded(
      private val codeToGlyph: Map[Int, Int],
      private val stdEncoding: Boolean,
      private val glyphSid: Array[Int],
      private val strings: IndexedSeq[String]) {

    private def sidName(sid: Int): Option[String] =
      if (sid < 391) Some(StdStrings(sid)) else strings.lift(sid - 391)

    /** code → text, or None when this font program cannot resolve it. */
    def decode(code: Int): Option[String] =
      if (stdEncoding) Encodings.base("StandardEncoding").get(code)
      else codeToGlyph.get(code).filter(_ != 0).flatMap { g =>
        (if (g < glyphSid.length) Some(glyphSid(g)) else None)
          .flatMap(sidName)
          .map(Encodings.glyphChar)
          .filter(s => s.nonEmpty && s != "�")
      }
  }

  /** Big-endian offset of `size` (1-4) bytes. */
  private def off(d: Array[Byte], p: Int, size: Int): Int = {
    var v = 0; var k = 0
    while (k < size) { v = (v << 8) | (d(p + k) & 0xff); k += 1 }
    v
  }

  /** INDEX at `p` → (entry slices, position after the INDEX). */
  private def readIndex(d: Array[Byte], p: Int): (IndexedSeq[Array[Byte]], Int) = {
    val count = u16(d, p)
    if (count == 0) return (Vector.empty, p + 2)
    val offSize = u8(d, p + 2)
    require(offSize >= 1 && offSize <= 4, s"INDEX offSize $offSize")
    val offsets = (0 to count).map(i => off(d, p + 3 + offSize * i, offSize))
    val dataStart = p + 3 + offSize * (count + 1) - 1 // offsets are 1-based
    val entries = (0 until count).map { i =>
      val (a, b) = (dataStart + offsets(i), dataStart + offsets(i + 1))
      require(a >= 0 && b >= a && b <= d.length, "INDEX entry out of bounds")
      java.util.Arrays.copyOfRange(d, a, b)
    }
    (entries, dataStart + offsets(count))
  }

  /** DICT bytes → op (escaped = 1200+b) → operand list. */
  private def readDict(d: Array[Byte]): Map[Int, List[Double]] = {
    val out = mutable.Map[Int, List[Double]]()
    var operands = List.empty[Double]
    var p = 0
    while (p < d.length) {
      val b0 = d(p) & 0xff
      if (b0 <= 21) { // operator
        val op = if (b0 == 12) { p += 1; 1200 + (d(p) & 0xff) } else b0
        out(op) = operands.reverse
        operands = Nil
        p += 1
      } else if (b0 >= 32 && b0 <= 246) { operands ::= (b0 - 139).toDouble; p += 1 }
      else if (b0 >= 247 && b0 <= 250) {
        operands ::= ((b0 - 247) * 256 + (d(p + 1) & 0xff) + 108).toDouble; p += 2
      } else if (b0 >= 251 && b0 <= 254) {
        operands ::= (-(b0 - 251) * 256 - (d(p + 1) & 0xff) - 108).toDouble; p += 2
      } else if (b0 == 28) {
        operands ::= u16(d, p + 1).toShort.toDouble; p += 3
      } else if (b0 == 29) {
        operands ::= Bin.u32be(d, p + 1).toInt.toDouble; p += 5
      } else if (b0 == 30) { // packed-BCD real: skip nibbles to terminator
        val sb = new StringBuilder
        p += 1
        var done = false
        while (!done && p < d.length) {
          val byte = d(p) & 0xff
          for (nib <- Seq(byte >> 4, byte & 0xf) if !done) nib match {
            case 0xf => done = true
            case 0xa => sb += '.'
            case 0xb => sb += 'E'
            case 0xc => sb ++= "E-"
            case 0xe => sb += '-'
            case 0xd => ()
            case n => sb += ('0' + n).toChar
          }
          p += 1
        }
        operands ::= (try sb.toString.toDouble catch { case _: Exception => 0.0 })
      } else p += 1 // reserved
    }
    out.toMap
  }

  /** Never throws: a malformed program yields None (caller falls back). */
  def parse(data: Array[Byte]): Option[Embedded] =
    try parseUnsafe(data) catch { case _: Exception => None }

  private def parseUnsafe(d: Array[Byte]): Option[Embedded] = {
    if (d.length < 4) return None
    if (u8(d, 0) != 1) return None // major version 1 only
    val hdrSize = u8(d, 2)
    val (_, afterNames) = readIndex(d, hdrSize)
    val (topDicts, afterTop) = readIndex(d, afterNames)
    if (topDicts.isEmpty) return None
    val top = readDict(topDicts.head)
    if (top.contains(1230)) return None // /ROS: CID-keyed, charset = CIDs
    val (stringIdx, _) = readIndex(d, afterTop)
    val strings = stringIdx.map(b =>
      new String(b, java.nio.charset.StandardCharsets.US_ASCII))

    val csOff = top.get(17).flatMap(_.headOption).map(_.toInt).getOrElse(-1)
    if (csOff <= 0 || csOff >= d.length) return None
    val (charStrings, _) = readIndex(d, csOff)
    val nGlyphs = charStrings.size
    if (nGlyphs == 0) return None

    // ---- charset: glyph → SID (glyph 0 is always .notdef)
    val charsetOff = top.get(15).flatMap(_.headOption).map(_.toInt).getOrElse(0)
    val glyphSid = new Array[Int](nGlyphs)
    charsetOff match {
      case 0 => // predefined ISOAdobe: identity
        var g = 0
        while (g < nGlyphs) { glyphSid(g) = g; g += 1 }
      case 1 | 2 => return None // predefined Expert charsets: not text fonts
      case off =>
        if (off + 1 > d.length) return None
        u8(d, off) match {
          case 0 =>
            var g = 1
            while (g < nGlyphs) { glyphSid(g) = u16(d, off + 1 + 2 * (g - 1)); g += 1 }
          case fmt @ (1 | 2) =>
            var g = 1
            var p = off + 1
            while (g < nGlyphs) {
              val first = u16(d, p)
              val nLeft = if (fmt == 1) u8(d, p + 2) else u16(d, p + 2)
              p += (if (fmt == 1) 3 else 4)
              var k = 0
              while (k <= nLeft && g < nGlyphs) { glyphSid(g) = first + k; g += 1; k += 1 }
            }
          case _ => return None
        }
    }

    // ---- encoding: code → glyph
    val encOff = top.get(16).flatMap(_.headOption).map(_.toInt).getOrElse(0)
    if (encOff == 0)
      return Some(new Embedded(Map.empty, stdEncoding = true, glyphSid, strings))
    if (encOff == 1) return None // predefined Expert encoding
    if (encOff + 1 > d.length) return None
    val fmtByte = u8(d, encOff)
    val codeToGlyph = mutable.Map[Int, Int]()
    var supStart = -1
    (fmtByte & 0x7f) match {
      case 0 =>
        val nCodes = u8(d, encOff + 1)
        var i = 1
        while (i <= nCodes) { codeToGlyph(u8(d, encOff + 1 + i)) = i; i += 1 }
        supStart = encOff + 2 + nCodes
      case 1 =>
        val nRanges = u8(d, encOff + 1)
        var g = 1
        var k = 0
        while (k < nRanges) {
          val first = u8(d, encOff + 2 + 2 * k)
          val nLeft = u8(d, encOff + 2 + 2 * k + 1)
          var j = 0
          while (j <= nLeft) { codeToGlyph(first + j) = g; g += 1; j += 1 }
          k += 1
        }
        supStart = encOff + 2 + 2 * nRanges
      case _ => return None
    }
    if ((fmtByte & 0x80) != 0 && supStart >= 0 && supStart < d.length) {
      // supplements: code → SID, resolved to the glyph through the charset
      val sidToGlyph = glyphSid.zipWithIndex.map { case (sid, g) => sid -> g }.toMap
      val nSups = u8(d, supStart)
      var k = 0
      while (k < nSups) {
        val code = u8(d, supStart + 1 + 3 * k)
        val sid = u16(d, supStart + 1 + 3 * k + 1)
        sidToGlyph.get(sid).foreach(g => codeToGlyph(code) = g)
        k += 1
      }
    }
    Some(new Embedded(codeToGlyph.toMap, stdEncoding = false, glyphSid, strings))
  }

  // ------------------------------------------------------------ writer
  /** Deterministic minimal CFF for fixtures: one font, a format-0 custom
    * encoding (code[i] → glyph i, glyphs dense 1..n), a format-0 charset
    * whose SIDs use the standard strings when the glyph name is standard
    * and the String INDEX otherwise, and 1-byte endchar CharStrings. Only
    * what the decode chain reads — metrics/Private DICT are irrelevant to
    * text extraction and omitted.
    *
    * `glyphs` = (code, name) per glyph in glyph order (glyph i+1 gets
    * `glyphs(i)`). `stdEncoding = true` writes the PREDEFINED encoding
    * (Top DICT operand 0, no encoding table) — codes then decode straight
    * through Adobe StandardEncoding and the per-glyph codes are ignored.
    */
  def build(glyphs: Seq[(Int, String)], stdEncoding: Boolean = false): Array[Byte] = {
    require(glyphs.nonEmpty && glyphs.size <= 255, "fixture needs 1..255 glyphs")
    require(glyphs.forall(_._1 <= 255), "format-0 encoding is byte codes")
    /** 1-byte-offset INDEX (fixture data is tiny). */
    def index(entries: Seq[Array[Byte]]): Array[Byte] = {
      val b = new Bin.Sink().u16be(entries.size)
      if (entries.nonEmpty) {
        val offsets = entries.scanLeft(1)(_ + _.length)
        require(offsets.last <= 255, "fixture INDEX overflows 1-byte offsets")
        b.u8(1) // offSize
        offsets.foreach(b.u8)
        entries.foreach(b.bytes)
      }
      b.toArray
    }

    val custom = mutable.LinkedHashMap[String, Int]() // name -> SID
    val sids = glyphs.map { case (_, name) =>
      val std = StdStrings.indexOf(name)
      if (std >= 0) std
      else custom.getOrElseUpdate(name, 391 + custom.size)
    }

    val header = Array[Byte](1, 0, 4, 4) // major, minor, hdrSize, offSize
    val nameIdx = index(Seq("GraftFixture".getBytes("US-ASCII")))
    val stringIdx = index(custom.keys.toSeq.map(_.getBytes("US-ASCII")))
    val gsubrIdx = index(Nil)
    val encoding =
      if (stdEncoding) Array.emptyByteArray
      else (Seq(0, glyphs.size) ++ glyphs.map(_._1)).map(_.toByte).toArray
    val charset = new Bin.Sink().u8(0) // format 0
    sids.foreach(charset.u16be)
    val charStrings = index(Seq.fill(glyphs.size + 1)(Array[Byte](0x0e))) // endchar

    // Top DICT with fixed-width (op 29) offsets so the layout is stable
    def dict(charsetOff: Int, encodingOff: Int, charStringsOff: Int): Array[Byte] =
      new Bin.Sink().u8(29).u32be(charsetOff).u8(15)
        .u8(29).u32be(encodingOff).u8(16)
        .u8(29).u32be(charStringsOff).u8(17).toArray
    val topIdx0 = index(Seq(dict(0, 0, 0))) // layout probe (fixed width)
    val encodingAt = header.length + nameIdx.length + topIdx0.length +
      stringIdx.length + gsubrIdx.length
    val charsetAt = encodingAt + encoding.length
    val charStringsAt = charsetAt + charset.size
    Bin.cat(header, nameIdx,
      index(Seq(dict(charsetAt, if (stdEncoding) 0 else encodingAt, charStringsAt))),
      stringIdx, gsubrIdx, encoding, charset.toArray, charStrings)
  }
}
