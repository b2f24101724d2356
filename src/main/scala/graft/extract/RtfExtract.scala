package graft.extract

import scala.collection.mutable.ArrayBuffer

/** RTF text extraction from raw bytes — the reference routes
  * `application/rtf` through MarkItDown (markitdown_provider/provider.py:45);
  * here the public RTF 1.9 control-word grammar is interpreted directly,
  * NOT ported: group nesting, destination skipping (fonttbl/colortbl/
  * stylesheet/pict/object and every `\\*`-prefixed destination), `\\'hh`
  * code-page escapes, `\\uN` Unicode with `\\ucN` skip-count tracking per
  * group, `\\par`/`\\line`/`\\tab` breaks, and the `\\info` group's
  * `\\title`.
  *
  * Output, in the flow shape ([[DocxExtract.DocxDoc]]): plain paragraphs
  * (RTF carries no portable heading semantics — styles are
  * stylesheet-relative, documented bound) + one page break per `\\page`
  * (consecutive controls are blank pages). Malformed input degrades
  * gracefully: unbalanced groups terminate at end-of-input; a non-RTF
  * payload is a Left.
  */
object RtfExtract {

  import DocxExtract.{Block, DocxDoc, PageBreak, Para}

  /** Destinations whose content is data, not document text. `\fldinst`
    * (the field INSTRUCTION, e.g. the HYPERLINK target) skips; the field
    * group itself and `\fldrslt` (the display text) flow as content.
    */
  private val SkipDests = Set(
    "fonttbl", "colortbl", "stylesheet", "pict", "object", "info",
    "header", "footer", "headerl", "headerr", "footerl", "footerr",
    "ftnsep", "ftnsepc", "xe", "tc", "fldinst")

  def extract(bytes: Array[Byte]): Either[String, DocxDoc] = {
    val s = bytes
    if (s.length < 5 || !(s(0) == '{' && s(1) == '\\' && s(2) == 'r' && s(3) == 't' && s(4) == 'f'))
      return Left("rtf_parse_error: not an RTF document (missing {\\rtf header)")
    val blocks = ArrayBuffer[Block]()
    val cur = new StringBuilder
    var title = ""

    def flush(): Unit = {
      val t = DocxExtract.collapseWs(cur.toString)
      if (t.nonEmpty) blocks += Para(t)
      cur.clear()
    }

    // group state: skipAt = group depth where a skip destination began
    // (-1 = not skipping); destinations cannot nest while skipping, so a
    // single watermark suffices
    var depth = 0
    var skipAt = -1
    val ucStack = ArrayBuffer[Int](1)
    var inInfoTitle = false
    var titleDepth = -1
    val titleBuf = new StringBuilder
    def skipping: Boolean = skipAt >= 0
    var i = 0
    var pendingUcSkip = 0

    def readControl(): Unit = {
      // at s(i) == '\\'
      i += 1
      if (i >= s.length) return
      val c = s(i).toChar
      if (!c.isLetter) {
        // control symbol
        c match {
          case '\'' =>
            val hex = new String(s, i + 1, math.min(2, s.length - i - 1), "ISO-8859-1")
            i += 1 + hex.length
            if (pendingUcSkip > 0) pendingUcSkip -= 1
            else if (!skipping || inInfoTitle) {
              try {
                val ch = Integer.parseInt(hex, 16).toChar
                if (inInfoTitle) titleBuf += ch else cur += ch
              } catch { case _: NumberFormatException => () }
            }
          case '\\' | '{' | '}' =>
            i += 1
            if (pendingUcSkip > 0) pendingUcSkip -= 1
            else if (inInfoTitle) titleBuf += c
            else if (!skipping) cur += c
          case '~' =>
            i += 1
            if (pendingUcSkip > 0) pendingUcSkip -= 1 // consumed as \u fallback
            else if (!skipping) cur += ' ' // nbsp
          case '-' | '_' => i += 1 // optional/nb hyphen markers
          case '*' =>
            // \* prefixes an ignorable destination: skip this group
            i += 1
            if (!skipping) skipAt = depth
          case _ => i += 1
        }
        return
      }
      // control word: letters then optional signed number then optional space
      val ws = i
      while (i < s.length && s(i).toChar.isLetter) i += 1
      val word = new String(s, ws, i - ws, "ISO-8859-1")
      val ns = i
      if (i < s.length && (s(i) == '-' || s(i).toChar.isDigit)) {
        i += 1
        while (i < s.length && s(i).toChar.isDigit) i += 1
      }
      val numStr = new String(s, ns, i - ns, "ISO-8859-1")
      if (i < s.length && s(i) == ' ') i += 1 // delimiter space is consumed
      // malformed/overflowing parameters ('-' alone, \bin2147483648) must
      // degrade to no-parameter, not kill the document
      val num =
        try {
          if (numStr.isEmpty || numStr == "-") Int.MinValue
          else math.max(Int.MinValue + 1L,
            math.min(Int.MaxValue.toLong, numStr.toLong)).toInt
        } catch { case _: NumberFormatException => Int.MinValue }

      if (pendingUcSkip > 0 && word != "u") {
        // the \ucN fallback may BE a control word (\uc1\u9\tab): it
        // counts as one skippable item and must be consumed, not executed
        pendingUcSkip -= 1
        return
      }
      handleWord(word, num)
    }

    def handleWord(word: String, num: Int): Unit = word match {
      case "par" | "line" if !skipping => flush()
      case "page" if !skipping => flush(); blocks += PageBreak
      case "tab" if !skipping => cur += ' '
      case "bin" =>
        // \binN: the next N bytes are RAW binary (may contain { } \) —
        // skip them wholesale or group tracking desynchronizes; Long
        // arithmetic: a huge N must clamp, not overflow negative
        if (num != Int.MinValue && num > 0)
          i = math.min(s.length.toLong, i.toLong + num).toInt
      case "uc" => ucStack(ucStack.length - 1) = math.max(0, num)
      case "u" =>
        if (!skipping || inInfoTitle) {
          val cp = if (num == Int.MinValue) 0 else (if (num < 0) num + 65536 else num)
          if (cp > 0) { if (inInfoTitle) titleBuf += cp.toChar else cur += cp.toChar }
        }
        pendingUcSkip = ucStack.last
      case "title" if skipping =>
        // inside the (skipped) \info destination: capture its text
        inInfoTitle = true
        titleDepth = depth
      case d if SkipDests.contains(d) && !skipping =>
        skipAt = depth
      case _ => ()
    }

    while (i < s.length) {
      s(i) match {
        case '{' => depth += 1; ucStack += ucStack.last; i += 1
        case '}' =>
          depth -= 1; i += 1
          if (ucStack.length > 1) ucStack.remove(ucStack.length - 1)
          if (inInfoTitle && depth < titleDepth) {
            if (title.isEmpty) title = DocxExtract.collapseWs(titleBuf.toString)
            inInfoTitle = false
          }
          if (skipAt >= 0 && depth < skipAt) skipAt = -1
        case '\\' => readControl()
        case '\r' | '\n' => i += 1 // raw newlines are ignored in RTF
        case ch =>
          i += 1
          if (pendingUcSkip > 0) pendingUcSkip -= 1
          else if (inInfoTitle) titleBuf += (ch & 0xff).toChar
          else if (!skipping) cur += (ch & 0xff).toChar
      }
    }
    flush()
    if (title.isEmpty && titleBuf.nonEmpty)
      title = DocxExtract.collapseWs(titleBuf.toString)
    Right(DocxDoc(title, blocks.toSeq))
  }

  // ------------------------------------------------------------ writer
  /** Deterministic RTF writer — paragraphs with escapes, optional \page
    * markers before the paragraph indices in `breaksBefore`, an \info
    * title, and a decoy \fonttbl the parser must skip.
    */
  def buildRtf(title: String, paragraphs: Seq[String], breaksBefore: Set[Int] = Set.empty): String = {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '{' => "\\{"
      case '}' => "\\}"
      case c if c > 127 =>
        // RTF \uN is SIGNED 16-bit decimal: U+8000.. wraps negative
        val n = if (c.toInt > 32767) c.toInt - 65536 else c.toInt
        f"\\u$n%d?"
      case c => c.toString
    }
    val body = paragraphs.zipWithIndex.map { case (p, i) =>
      (if (breaksBefore.contains(i)) "\\page " else "") + esc(p) + "\\par\n"
    }.mkString
    "{\\rtf1\\ansi{\\fonttbl{\\f0 Times New Roman;}}" +
      s"{\\info{\\title ${esc(title)}}}\n" + body + "}"
  }
}
