package graft.extract

import graft.extract.Bin.{u8, u16be => u16, u32be => u32}
import scala.collection.mutable

/** Embedded TrueType font-program decode — the wild-PDF slice: subsetted
  * fonts shipped as /FontFile2 frequently drop /ToUnicode and /Encoding, so
  * their codes are meaningless without the font's own `cmap` and `post`
  * tables. Built from the PUBLIC sfnt structure (Apple TrueType Reference
  * Manual / OpenType spec ISO 14496-22: offset table + table directory,
  * `cmap` subtable formats 0/4/6, `post` formats 1.0/2.0 with the standard
  * 258-name Macintosh glyph order) — NOT a port of any font library. The
  * reference reads such PDFs through its external ML providers
  * (marker_provider/provider.py:37-126); here the decode is in-engine.
  *
  * Decode contract (mirrored EXACTLY by `tools/pdf_text_oracle.py`, the
  * independent second implementation — change BOTH or neither):
  *   1. code → glyph via the first present cmap subtable in priority order
  *      (1,0) → (3,0) → (3,1); a (3,0) symbol subtable is probed at `code`
  *      then `0xF000|code`; glyph 0 (.notdef) is a failure;
  *   2. glyph → text via the inverse Unicode cmap — (3,1) if present, else
  *      any (0,*) — taking the SMALLEST code point mapped to the glyph;
  *   3. else glyph → name via `post` (format 1.0 = standard order identity;
  *      format 2.0 = index < 258 → standard name, else the embedded Pascal
  *      string), then name → text via the AGL subset
  *      ([[Encodings.glyphChar]], incl. uniXXXX/uXXXX and single-char
  *      names); U+FFFD means failure (fall through to the caller's chain).
  * Unsupported cmap formats and malformed tables are skipped, never thrown:
  * a bad font degrades to the pre-round-5 behavior.
  */
object TrueType {

  /** Standard Macintosh glyph ordering (258 names) per the public TrueType
    * `post` table spec; one whitespace-joined constant so the Python oracle
    * can carry the byte-identical string.
    */
  private val MacNamesStr: String =
    ".notdef .null nonmarkingreturn space exclam quotedbl numbersign dollar percent ampersand quotesingle parenleft parenright asterisk plus comma hyphen period slash zero one two three four five six seven eight nine colon semicolon less equal greater question at A B C D E F G H I J K L M N O P Q R S T U V W X Y Z bracketleft backslash bracketright asciicircum underscore grave a b c d e f g h i j k l m n o p q r s t u v w x y z braceleft bar braceright asciitilde Adieresis Aring Ccedilla Eacute Ntilde Odieresis Udieresis aacute agrave acircumflex adieresis atilde aring ccedilla eacute egrave ecircumflex edieresis iacute igrave icircumflex idieresis ntilde oacute ograve ocircumflex odieresis otilde uacute ugrave ucircumflex udieresis dagger degree cent sterling section bullet paragraph germandbls registered copyright trademark acute dieresis notequal AE Oslash infinity plusminus lessequal greaterequal yen mu partialdiff summation product pi integral ordfeminine ordmasculine Omega ae oslash questiondown exclamdown logicalnot radical florin approxequal Delta guillemotleft guillemotright ellipsis nonbreakingspace Agrave Atilde Otilde OE oe endash emdash quotedblleft quotedblright quoteleft quoteright divide lozenge ydieresis Ydieresis fraction currency guilsinglleft guilsinglright fi fl daggerdbl periodcentered quotesinglbase quotedblbase perthousand Acircumflex Ecircumflex Aacute Edieresis Egrave Iacute Icircumflex Idieresis Igrave Oacute Ocircumflex apple Ograve Uacute Ucircumflex Ugrave dotlessi circumflex tilde macron breve dotaccent ring cedilla hungarumlaut ogonek caron Lslash lslash Scaron scaron Zcaron zcaron brokenbar Eth eth Yacute yacute Thorn thorn minus multiply onesuperior twosuperior threesuperior onehalf onequarter threequarters franc Gbreve gbreve Idotaccent Scedilla scedilla Cacute cacute Ccaron ccaron dcroat"

  private[extract] val MacGlyphNames: Array[String] = {
    val a = MacNamesStr.split(' ')
    require(a.length == 258, s"standard glyph order must have 258 names, got ${a.length}")
    a
  }

  /** Parsed decode maps; see the object scaladoc for the resolution order. */
  final class Embedded(
      private val codeToGlyph: Map[Int, Int],
      private val symbolCmap: Boolean,
      private val glyphToUni: Map[Int, Int],
      private val glyphNames: Map[Int, String]) {

    /** code → text, or None when this font program cannot resolve it. */
    def decode(code: Int): Option[String] = {
      val g = codeToGlyph.get(code)
        .orElse(if (symbolCmap) codeToGlyph.get(0xF000 | code) else None)
      g.filter(_ != 0).flatMap { glyph =>
        glyphToUni.get(glyph)
          .map(cp => new String(Character.toChars(cp)))
          .orElse(glyphNames.get(glyph).map(Encodings.glyphChar)
            .filter(s => s.nonEmpty && s != "�"))
      }
    }
  }

  // ------------------------------------------------------------ parser
  /** Never throws: a malformed program yields None (caller falls back). */
  def parse(data: Array[Byte]): Option[Embedded] =
    try parseUnsafe(data) catch { case _: Exception => None }

  private def parseUnsafe(d: Array[Byte]): Option[Embedded] = {
    if (d.length < 12) return None
    val version = u32(d, 0)
    // 0x00010000, 'true', 'OTTO' (CFF glyphs still carry cmap/post)
    if (version != 0x00010000L && version != 0x74727565L && version != 0x4f54544fL)
      return None
    val numTables = u16(d, 4)
    var cmapOff = -1; var postOff = -1
    var i = 0
    while (i < numTables) {
      val p = 12 + 16 * i
      if (p + 16 > d.length) return None
      new String(d, p, 4, java.nio.charset.StandardCharsets.US_ASCII) match {
        case "cmap" => cmapOff = u32(d, p + 8).toInt
        case "post" => postOff = u32(d, p + 8).toInt
        case _ => ()
      }
      i += 1
    }
    if (cmapOff < 0 && postOff < 0) return None

    // -------- cmap: collect (platform, encoding) → code→glyph map
    var mac10: Map[Int, Int] = null      // (1,0)
    var win30: Map[Int, Int] = null      // (3,0) symbol
    var win31: Map[Int, Int] = null      // (3,1) unicode BMP
    var uni0x: Map[Int, Int] = null      // (0,*) unicode
    if (cmapOff >= 0 && cmapOff + 4 <= d.length) {
      val n = u16(d, cmapOff + 2)
      var k = 0
      while (k < n) {
        val e = cmapOff + 4 + 8 * k
        val plat = u16(d, e); val enc = u16(d, e + 2)
        val sub = cmapOff + u32(d, e + 4).toInt
        val m = parseCmapSubtable(d, sub)
        if (m != null) {
          if (plat == 1 && enc == 0 && mac10 == null) mac10 = m
          else if (plat == 3 && enc == 0 && win30 == null) win30 = m
          else if (plat == 3 && enc == 1 && win31 == null) win31 = m
          else if (plat == 0 && uni0x == null) uni0x = m
        }
        k += 1
      }
    }
    val (codeToGlyph, symbol) =
      if (mac10 != null) (mac10, false)
      else if (win30 != null) (win30, true)
      else if (win31 != null) (win31, false)
      else if (uni0x != null) (uni0x, false)
      else (Map.empty[Int, Int], false)

    // -------- inverse unicode cmap: glyph → smallest code point
    val uniSrc = if (win31 != null) win31 else uni0x
    val glyphToUni: Map[Int, Int] =
      if (uniSrc == null) Map.empty
      else {
        val inv = mutable.Map[Int, Int]()
        uniSrc.foreach { case (cp, g) =>
          if (g != 0 && (!inv.contains(g) || cp < inv(g))) inv(g) = cp
        }
        inv.toMap
      }

    // -------- post: glyph → name
    val glyphNames: Map[Int, String] =
      if (postOff < 0 || postOff + 34 > d.length) Map.empty
      else u32(d, postOff) match {
        case 0x00010000L =>
          MacGlyphNames.zipWithIndex.map { case (nm, g) => g -> nm }.toMap
        case 0x00020000L =>
          val numGlyphs = u16(d, postOff + 32)
          val idx = new Array[Int](numGlyphs)
          var g = 0
          while (g < numGlyphs) { idx(g) = u16(d, postOff + 34 + 2 * g); g += 1 }
          // Pascal-string pool follows the index array
          val custom = mutable.ArrayBuffer[String]()
          var p = postOff + 34 + 2 * numGlyphs
          while (p < d.length && custom.length < numGlyphs) {
            val len = u8(d, p)
            if (p + 1 + len > d.length) p = d.length
            else {
              custom += new String(d, p + 1, len,
                java.nio.charset.StandardCharsets.US_ASCII)
              p += 1 + len
            }
          }
          idx.zipWithIndex.flatMap { case (ix, g2) =>
            if (ix < 258) Some(g2 -> MacGlyphNames(ix))
            else custom.lift(ix - 258).map(g2 -> _)
          }.toMap
        case _ => Map.empty // 2.5/3.0: no names (3.0 is explicit "no names")
      }

    if (codeToGlyph.isEmpty && glyphToUni.isEmpty && glyphNames.isEmpty) None
    else Some(new Embedded(codeToGlyph, symbol, glyphToUni, glyphNames))
  }

  /** Formats 0/4/6; anything else → null (subtable skipped). */
  private def parseCmapSubtable(d: Array[Byte], off: Int): Map[Int, Int] = {
    if (off < 0 || off + 2 > d.length) return null
    u16(d, off) match {
      case 0 =>
        if (off + 6 + 256 > d.length) return null
        (0 until 256).iterator.map(c => c -> u8(d, off + 6 + c))
          .filter(_._2 != 0).toMap
      case 4 =>
        val segX2 = u16(d, off + 6)
        val segs = segX2 / 2
        val endP = off + 14
        val startP = endP + segX2 + 2
        val deltaP = startP + segX2
        val rangeP = deltaP + segX2
        if (rangeP + segX2 > d.length) return null
        val out = mutable.Map[Int, Int]()
        // iteration cap: a crafted font can declare thousands of
        // overlapping full-range segments (segs × 65536 ≈ 2e9 loops — a
        // CPU DoS inside the per-row kernel); a legitimate BMP cmap needs
        // ≤ 65536 total code visits, so 2^20 is generous. Past it, keep
        // what is mapped (bounded-work degradation, mirrored by the
        // Python oracle).
        val iterCap = 1 << 20
        var iters = 0
        var s = 0
        while (s < segs && iters < iterCap) {
          val end = u16(d, endP + 2 * s)
          val start = u16(d, startP + 2 * s)
          val delta = u16(d, deltaP + 2 * s).toShort.toInt
          val ro = u16(d, rangeP + 2 * s)
          if (start != 0xffff && start <= end) {
            var c = start
            while (c <= end && iters < iterCap) {
              iters += 1
              val g =
                if (ro == 0) (c + delta) & 0xffff
                else {
                  val gp = rangeP + 2 * s + ro + 2 * (c - start)
                  if (gp + 2 > d.length) 0
                  else {
                    val raw = u16(d, gp)
                    if (raw == 0) 0 else (raw + delta) & 0xffff
                  }
                }
              if (g != 0) out(c) = g
              c += 1
            }
          }
          s += 1
        }
        out.toMap
      case 6 =>
        val first = u16(d, off + 6)
        val count = u16(d, off + 8)
        if (off + 10 + 2 * count > d.length) return null
        (0 until count).iterator.map(i => (first + i) -> u16(d, off + 10 + 2 * i))
          .filter(_._2 != 0).toMap
      case _ => null
    }
  }

  // ------------------------------------------------------------ writer
  /** Deterministic minimal TrueType program for fixtures: a `cmap` with a
    * (1,0) format-0/6 code table and/or a (3,1) format-4 Unicode table,
    * plus a `post` 2.0 name table. Only what the decode chain reads —
    * `glyf`/`head`/`maxp` are irrelevant to text extraction and omitted
    * (the parser requires only the directory, cmap, post).
    */
  def build(
      codeToGlyph: Seq[(Int, Int)] = Nil,
      glyphNames: Map[Int, String] = Map.empty,
      unicodeToGlyph: Seq[(Int, Int)] = Nil,
      macCmapFormat: Int = 6): Array[Byte] = {
    require(macCmapFormat == 0 || macCmapFormat == 6, "fixture cmap format 0 or 6")

    val sub10: Array[Byte] =
      if (codeToGlyph.isEmpty) null
      else if (macCmapFormat == 0) {
        val ids = new Array[Byte](256)
        codeToGlyph.foreach { case (c, g) =>
          require(c < 256 && g < 256, "format 0 is byte-to-byte")
          ids(c) = g.toByte
        }
        new Bin.Sink().u16be(0).u16be(262).u16be(0).bytes(ids).toArray
      } else {
        val sorted = codeToGlyph.sortBy(_._1)
        val first = sorted.head._1
        val count = sorted.last._1 - first + 1
        val ids = new Array[Int](count)
        sorted.foreach { case (c, g) => ids(c - first) = g }
        val b = new Bin.Sink().u16be(6).u16be(10 + 2 * count).u16be(0).u16be(first).u16be(count)
        ids.foreach(b.u16be)
        b.toArray
      }

    val sub31: Array[Byte] =
      if (unicodeToGlyph.isEmpty) null
      else {
        // format 4 with one segment per contiguous code run + the required
        // terminal 0xFFFF segment; glyphs via idRangeOffset=0 (delta form)
        // only when the run's (glyph − code) is constant — build one
        // segment PER entry for simplicity (fixtures are tiny)
        val entries = unicodeToGlyph.sortBy(_._1)
        val segs = entries.map { case (c, g) => (c, c, (g - c) & 0xffff) } :+
          ((0xffff, 0xffff, 1))
        val segCount = segs.length
        val segX2 = segCount * 2
        val sr = {
          var x = 1; while (x * 2 <= segCount) x *= 2
          x * 2
        }
        val entrySel = (math.log(sr / 2.0) / math.log(2.0)).toInt
        val b = new Bin.Sink().u16be(4).u16be(16 + 8 * segCount).u16be(0)
          .u16be(segX2).u16be(sr).u16be(entrySel).u16be(segX2 - sr)
        segs.foreach(sg => b.u16be(sg._2)) // end codes
        b.u16be(0) // reservedPad
        segs.foreach(sg => b.u16be(sg._1)) // start codes
        segs.foreach(sg => b.u16be(sg._3)) // deltas
        segs.foreach(_ => b.u16be(0)) // idRangeOffsets
        b.toArray
      }

    val subs = Seq(
      Option(sub10).map((1, 0, _)),
      Option(sub31).map((3, 1, _))).flatten
    val cmap = new Bin.Sink().u16be(0).u16be(subs.length)
    var subOff = 4 + 8 * subs.length
    subs.foreach { case (p, e, b) => cmap.u16be(p).u16be(e).u32be(subOff); subOff += b.length }
    subs.foreach(sub => cmap.bytes(sub._3))

    val post: Array[Byte] = {
      val maxG = (glyphNames.keys ++ Seq(0)).max
      val numGlyphs = maxG + 1
      val customNames = mutable.ArrayBuffer[String]()
      val b = new Bin.Sink().u32be(0x00020000L)
        .padTo(32) // italicAngle, underline, isFixedPitch, memory hints
        .u16be(numGlyphs)
      (0 until numGlyphs).foreach { g =>
        b.u16be(glyphNames.get(g) match {
          case Some(nm) =>
            val std = MacGlyphNames.indexOf(nm)
            if (std >= 0) std
            else { customNames += nm; 258 + customNames.length - 1 }
          case None => 0 // .notdef
        })
      }
      customNames.foreach { nm =>
        val nb = nm.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        b.u8(nb.length).bytes(nb)
      }
      b.toArray
    }

    val tables = Seq(("cmap", cmap.toArray), ("post", post))
    val out = new Bin.Sink().u32be(0x00010000L).u16be(tables.length)
      .u16be(16 * 2).u16be(1).u16be(16) // searchRange, entrySelector, rangeShift
    var off = 12 + 16 * tables.length
    tables.foreach { case (tag, b) =>
      out.ascii(tag).u32be(0).u32be(off).u32be(b.length) // tag, checksum, offset, length
      off += b.length
    }
    tables.foreach(t => out.bytes(t._2))
    out.toArray
  }
}
