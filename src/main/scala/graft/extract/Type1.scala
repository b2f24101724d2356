package graft.extract

/** Embedded Type1 font-program decode — the third embedded-font family
  * (/FontFile, PDF 32000-1 §9.9): the original PostScript flavor, still
  * common in LaTeX output. The font's /Encoding array lives in the
  * CLEARTEXT portion of the program (Adobe Type 1 Font Format, public
  * spec) — `dup <code> /<name> put` entries or the literal
  * `StandardEncoding` — so text decode needs no eexec decryption at all
  * (charstrings carry shapes, not names).
  *
  * Decode contract (mirrored EXACTLY by `tools/pdf_text_oracle.py`, the
  * independent second implementation — change BOTH or neither):
  *   1. only the cleartext prefix is read: up to `eexec`, else the PFB
  *      segment-1 length, else the whole stream;
  *   2. `/Encoding ... StandardEncoding` (before any `dup`) decodes codes
  *      through Adobe StandardEncoding ([[Encodings.base]]);
  *   3. otherwise each `dup <code> /<name> put` maps its code and the name
  *      resolves via the AGL subset ([[Encodings.glyphChar]]); U+FFFD
  *      means failure (fall through to the caller's chain).
  */
object Type1 {

  final class Embedded(
      private val std: Boolean,
      private val codeName: Map[Int, String]) {
    def decode(code: Int): Option[String] =
      if (std) Encodings.base("StandardEncoding").get(code)
      else codeName.get(code).map(Encodings.glyphChar)
        .filter(s => s.nonEmpty && s != "�")
  }

  private val DupPut = """dup\s+(\d+)\s*/([^\s/{}()\[\]]+)\s+put""".r

  /** Never throws: a malformed program yields None (caller falls back). */
  def parse(data: Array[Byte]): Option[Embedded] =
    try parseUnsafe(data) catch { case _: Exception => None }

  private def parseUnsafe(data: Array[Byte]): Option[Embedded] = {
    if (data.length < 2) return None
    // PFB: 0x80 0x01 <len LE32> segment-1 is the cleartext; raw programs
    // start with "%!" (possibly after whitespace)
    val (start, limit0) =
      if ((data(0) & 0xff) == 0x80 && data(1) == 1 && data.length >= 6) {
        val len = Bin.u32le(data, 2).toInt
        (6, math.min(6L + math.max(len, 0), data.length.toLong).toInt)
      } else (0, data.length)
    val head = new String(data, start, limit0 - start,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!head.contains("%!")) return None
    val clear = {
      val e = head.indexOf("eexec")
      if (e >= 0) head.substring(0, e) else head
    }
    val encAt = clear.indexOf("/Encoding")
    if (encAt < 0) return None
    val tail = clear.substring(encAt)
    val firstDup = tail.indexOf("dup ")
    val stdAt = tail.indexOf("StandardEncoding")
    if (stdAt >= 0 && (firstDup < 0 || stdAt < firstDup))
      return Some(new Embedded(std = true, Map.empty))
    val entries = DupPut.findAllMatchIn(tail).flatMap { m =>
      try Some(m.group(1).toInt -> m.group(2))
      catch { case _: NumberFormatException => None }
    }.toMap
    if (entries.isEmpty) None
    else Some(new Embedded(std = false, entries))
  }

  // ------------------------------------------------------------ writer
  /** Deterministic minimal Type1 program for fixtures: a cleartext header
    * with a custom /Encoding (`dup code /name put`, or the literal
    * StandardEncoding), an `eexec` marker, and an opaque filler standing
    * in for the encrypted private portion (never read by the decode).
    */
  def build(codeNames: Seq[(Int, String)], stdEncoding: Boolean = false,
      pfb: Boolean = false): Array[Byte] = {
    val (clear, priv) = buildParts(codeNames, stdEncoding)
    if (!pfb) clear ++ priv
    else {
      new Bin.Sink().u8(0x80).u8(1).u32le(clear.length).bytes(clear)
        .u8(0x80).u8(2).u32le(priv.length).bytes(priv)
        .u8(0x80).u8(3).toArray
    }
  }

  /** (cleartext, encrypted-filler) — the PDF stream dict needs /Length1
    * and /Length2 separately.
    */
  private[extract] def buildParts(codeNames: Seq[(Int, String)],
      stdEncoding: Boolean): (Array[Byte], Array[Byte]) = {
    val sb = new StringBuilder
    sb ++= "%!PS-AdobeFont-1.0: GraftFixture 001.000\n"
    sb ++= "/FontName /GraftFixture def\n"
    if (stdEncoding) sb ++= "/Encoding StandardEncoding def\n"
    else {
      sb ++= "/Encoding 256 array\n0 1 255 {1 index exch /.notdef put} for\n"
      codeNames.foreach { case (c, n) => sb ++= s"dup $c /$n put\n" }
      sb ++= "readonly def\n"
    }
    sb ++= "currentdict end\ncurrentfile eexec\n"
    (sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
      Array.fill[Byte](64)(0x55)) // opaque filler, never decoded
  }
}
