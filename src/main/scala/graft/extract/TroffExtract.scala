package graft.extract

/** troff/man markup → markdown.
  *
  * In the reference's supported surface: `text/troff` sits in its
  * pandoc-supported MIME registry (`mime_types.py:101`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the classic
  * man(7) macro package plus basic troff escapes:
  *
  *   - `.TH NAME SEC …` → `# NAME(SEC)`; `.SH` → `##`, `.SS` → `###`
  *     (heading text from the args, or from the following text line when
  *     the request has none — both forms are idiomatic)
  *   - `.PP`/`.LP`/`.P`/`.br` → paragraph break; `.TP` renders its tag
  *     line as a bold block of its own; `.IP tag` starts a `- tag` item
  *   - `.B`/`.I` args render bold/italic; `.BR`/`.IR`/`.RB`/`.RI`
  *     alternate the two fonts across args, concatenated without spaces
  *     (the man idiom for `word(1),` punctuation)
  *   - `.nf` … `.fi` → fenced code block
  *   - escapes in text: `\fB`/`\fI` open bold/italic, `\fR`/`\fP` close
  *     back to roman, font state closing at paragraph ends; `\-` → `-`,
  *     `\&` drops, `\e`/`\\` → backslash; `.\"` comments skip
  *
  * Requests outside the subset are dropped (their text lines still
  * render). Blocks and the no-content failure row come from
  * [[MdShared.Blocks]].
  */
object TroffExtract {

  def toMarkdown(src: String): String = {
    val out = new MdShared.Blocks
    var font = 'R' // current font from \f escapes, spans lines in a paragraph
    var nextLineHeading = 0 // 2 or 3 when .SH/.SS had no args
    var nextLineTag = false // after .TP

    // every paragraph break closes the running font: out.flushPara(closeFont())
    def closeFont(): String = { val s = marker(font); font = 'R'; s }
    def marker(f: Char): String = f match {
      case 'B' => "**"
      case 'I' => "*"
      case _ => ""
    }
    // \f escapes with a running font state; other common escapes inline
    def text(s: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'f' if i + 2 < s.length =>
              val target = s.charAt(i + 2) match {
                case 'B' => 'B'
                case 'I' => 'I'
                case _ => 'R' // R, P (previous→roman in this subset), 1..4
              }
              if (target != font) {
                out.append(marker(font)) // close the open one
                out.append(marker(target))
                font = target
              }
              i += 3
            case '-' => out.append('-'); i += 2
            case '&' => i += 2
            case 'e' | '\\' => out.append('\\'); i += 2
            case other => out.append(other); i += 2
          }
        } else { out.append(c); i += 1 }
      }
      out.toString
    }
    // split request args: space-separated, double quotes group (the
    // tokenizer is the mdoc one — man(7) and mdoc(7) share the grammar)
    def args(rest: String): Seq[String] = MdShared.troffArgs(rest)
    // a .TP tag line is idiomatically a macro line (.B \-x): a font
    // request right after .TP becomes the bold tag block itself; a font
    // request right after an argless .SH/.SS renders the heading (groff
    // takes the next input line either way)
    def emitInline(s: String): Unit = {
      if (nextLineTag) { out.block(s); nextLineTag = false }
      else if (nextLineHeading > 0) {
        out.flushPara(closeFont())
        out.heading(nextLineHeading, s)
        nextLineHeading = 0
      } else out.para(s)
    }
    def alternate(a: Seq[String], first: String, second: String): String =
      a.zipWithIndex.map { case (w, i) =>
        val m = if (i % 2 == 0) first else second
        if (m.isEmpty) text(w) else s"$m${text(w)}$m"
      }.mkString

    for (raw <- src.split("\n", -1)) {
      val line = raw.stripSuffix("\r")
      if (out.inFence) {
        if (line == ".fi") out.closeFence()
        else if (!line.startsWith(".\\\"")) out.fenceLine(line)
      } else if (line.startsWith(".\\\"") || line.startsWith("'\\\"")) {
        () // comment
      } else if (line.startsWith(".") || line.startsWith("'")) {
        val body = line.drop(1)
        val sp = body.indexOf(' ')
        val req = if (sp < 0) body else body.substring(0, sp)
        val rest = if (sp < 0) "" else body.substring(sp + 1)
        // a pending .TP tag / argless-.SH heading is satisfied only by a
        // text line or a font request; any OTHER request abandons it so a
        // later unrelated text line is not promoted into a tag/heading
        if (!Set("B", "I", "BR", "RB", "IR", "RI").contains(req)) {
          nextLineTag = false
          nextLineHeading = 0
        }
        req match {
          case "TH" =>
            out.flushPara(closeFont())
            val a = args(rest)
            if (a.nonEmpty) out.heading(1, a.head + a.lift(1).map(s => s"($s)").getOrElse(""))
          case "SH" | "SS" =>
            out.flushPara(closeFont())
            val level = if (req == "SH") 2 else 3
            val a = args(rest)
            if (a.isEmpty) nextLineHeading = level
            else out.heading(level, text(a.mkString(" ")))
          case "PP" | "LP" | "P" | "br" | "sp" => out.flushPara(closeFont())
          case "TP" => out.flushPara(closeFont()); nextLineTag = true
          case "IP" =>
            out.flushPara(closeFont())
            val a = args(rest)
            if (a.nonEmpty && a.head.nonEmpty) out.para("- " + text(a.head))
          case "B" if rest.trim.nonEmpty => emitInline(s"**${text(rest.trim)}**")
          case "I" if rest.trim.nonEmpty => emitInline(s"*${text(rest.trim)}*")
          case "BR" => if (rest.trim.nonEmpty) emitInline(alternate(args(rest), "**", ""))
          case "RB" => if (rest.trim.nonEmpty) emitInline(alternate(args(rest), "", "**"))
          case "IR" => if (rest.trim.nonEmpty) emitInline(alternate(args(rest), "*", ""))
          case "RI" => if (rest.trim.nonEmpty) emitInline(alternate(args(rest), "", "*"))
          case "nf" =>
            out.flushPara(closeFont())
            out.openFence("")
          case _ => () // outside the subset
        }
      } else if (line.trim.isEmpty) {
        out.flushPara(closeFont())
      } else if (nextLineHeading > 0) {
        out.flushPara(closeFont())
        out.heading(nextLineHeading, text(line.trim))
        nextLineHeading = 0
      } else if (nextLineTag) {
        out.block(s"**${(text(line.trim) + closeFont()).trim}**")
        nextLineTag = false
      } else {
        out.para(text(line.trim))
      }
    }
    out.flushPara(closeFont())
    out.finish("troff")
  }
}
