package graft.extract

import scala.collection.mutable.ArrayBuffer

/** LaTeX (.tex) → markdown.
  *
  * In the reference's supported surface: `application/x-latex` sits in its
  * pandoc-supported MIME registry (`mime_types.py:97`) and `.tex` in
  * `EXT_TO_MIME` (`mime_types.py:165`). The reference delegates to pandoc;
  * this is a from-scratch deterministic subset with pandoc-shaped rules:
  *
  *   - comments (`%` to end of line, `\%` escaped) stripped
  *   - body = `\begin{document}..\end{document}` when present (preamble
  *     contributes only `\title{..}`), else the whole input (fragment)
  *   - heading levels assigned like pandoc: if `\chapter` occurs anywhere,
  *     chapter=1 section=2 …; else section=1 subsection=2 subsubsection=3
  *     paragraph=4; `\maketitle` emits the captured title as `#`
  *   - `\textbf`→`**`, `\emph`/`\textit`→`*`, `\texttt`→backticks,
  *     `\href{u}{t}`→`[t](u)`, `\url{u}`→`<u>`, `\cite{k}`→`[k]`,
  *     `\ref`/`\eqref`→arg, `\label`→dropped, `\\`→line break, `~`→space,
  *     ``` ``..'' ```→quotes, standard character escapes unescaped; an
  *     unknown one-arg command unwraps to its argument, a bare one drops
  *   - environments: `verbatim`→fenced code, `itemize`→`- `,
  *     `enumerate`→`1.`, `equation`/`displaymath`/`align(*)`→`$$` block
  *     (`$..$` inline math passes through verbatim), `tabular`→pipe table
  *     (`&` cells, `\\` rows, `\hline` dropped), `figure`→
  *     `![file](file)` image reference + caption paragraph, any other
  *     environment recurses into its content
  *
  * Markdown image references for `\includegraphics` flow into the span
  * grammar as interleaved image spans, mirroring the reference converters'
  * figure placeholders.
  */
object LatexExtract {

  def toMarkdown(src: String): String = {
    val noComments = stripComments(src)
    val (preamble, body) = splitDocument(noComments)
    val title = argOf(preamble + body, "\\title").map(inline(_, levels(body))).getOrElse("")
    val lv = levels(body)
    blocks(body, lv, title).filter(_.nonEmpty).mkString("\n\n")
  }

  // ---------------------------------------------------------------- lexing

  private val VerbatimEnvs = Seq("verbatim*", "verbatim", "lstlisting")

  private def stripComments(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val verb =
        if (c == '\\') VerbatimEnvs.find(e => s.startsWith(s"\\begin{$e}", i)) else None
      if (verb.isDefined) {
        // verbatim content keeps its % characters (pandoc behavior)
        val endTag = s"\\end{${verb.get}}"
        val close = s.indexOf(endTag, i)
        val stop = if (close < 0) s.length else close + endTag.length
        b.append(s.substring(i, stop)); i = stop
      } else if (c == '\\' && i + 1 < s.length) { b.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == '%') { while (i < s.length && s.charAt(i) != '\n') i += 1 }
      else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def splitDocument(s: String): (String, String) = {
    val open = s.indexOf("\\begin{document}")
    if (open < 0) return ("", s)
    val start = open + "\\begin{document}".length
    val close = s.indexOf("\\end{document}", start)
    (s.substring(0, open), if (close < 0) s.substring(start) else s.substring(start, close))
  }

  /** pandoc-like dynamic top level: chapters present shift sections down. */
  private def levels(body: String): Map[String, Int] = {
    val hasChapter = body.contains("\\chapter")
    if (hasChapter)
      Map("part" -> 1, "chapter" -> 1, "section" -> 2, "subsection" -> 3,
        "subsubsection" -> 4, "paragraph" -> 5)
    else
      Map("part" -> 1, "section" -> 1, "subsection" -> 2,
        "subsubsection" -> 3, "paragraph" -> 4)
  }

  /** First `\cmd{arg}` in `s` (brace-matched), if any. */
  private def argOf(s: String, cmd: String): Option[String] = {
    var i = s.indexOf(cmd + "{")
    while (i >= 0) {
      // reject longer command names sharing the prefix (\titlehead etc.)
      val after = i + cmd.length
      if (after < s.length && s.charAt(after) == '{') {
        val close = MdShared.matchBrace(s, after)
        if (close > after) return Some(s.substring(after + 1, close))
      }
      i = s.indexOf(cmd + "{", i + 1)
    }
    None
  }

  /** End index of `\end{env}` matching the `\begin{env}` whose content
    * starts at `from` (same-env nesting counted), with the content slice.
    */
  private def envContent(s: String, env: String, from: Int): (String, Int) = {
    val begin = s"\\begin{$env}"
    val end = s"\\end{$env}"
    var depth = 1
    var i = from
    while (i < s.length) {
      val nb = s.indexOf(begin, i)
      val ne = s.indexOf(end, i)
      if (ne < 0) return (s.substring(from), s.length)
      if (nb >= 0 && nb < ne) { depth += 1; i = nb + begin.length }
      else {
        depth -= 1
        if (depth == 0) return (s.substring(from, ne), ne + end.length)
        i = ne + end.length
      }
    }
    (s.substring(from), s.length)
  }

  // ---------------------------------------------------------------- blocks

  private val HeadingPat = java.util.regex.Pattern.compile(
    """\\(part|chapter|section|subsection|subsubsection|paragraph)\*?\s*\{""")
  private val BeginPat = java.util.regex.Pattern.compile("""\\begin\{([A-Za-z*]+)\}""")

  private def blocks(body: String, lv: Map[String, Int], title: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val para = new StringBuilder
    def flush(): Unit = {
      val t = inline(para.toString, lv).trim
      if (t.nonEmpty) out += t
      para.clear()
    }
    var i = 0
    val s = body
    // region-based prefix matching: a substring copy of the tail at every
    // backslash would make block scanning quadratic in document size
    val hmM = HeadingPat.matcher(s)
    val bmM = BeginPat.matcher(s)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' && i + 1 < s.length && blankLineAt(s, i)) {
        flush()
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
      } else if (c == '\\') {
        hmM.region(i, s.length)
        if (hmM.lookingAt()) {
          flush()
          val open = hmM.end - 1
          val close = MdShared.matchBrace(s, open)
          val text = if (close > open) s.substring(open + 1, close) else ""
          out += ("#" * lv(hmM.group(1))) + " " + inline(text, lv)
          i = if (close > open) close + 1 else open + 1
        } else if ({ bmM.region(i, s.length); bmM.lookingAt() }) {
          flush()
          val env = bmM.group(1)
          val (content, next) = envContent(s, env, bmM.end)
          out ++= envBlocks(env, content, lv)
          i = next
        } else if (s.startsWith("\\maketitle", i)) {
          flush()
          if (title.nonEmpty) out += "# " + title
          i += "\\maketitle".length
        } else if (s.startsWith("\\title", i) && i + 6 < s.length && s.charAt(i + 6) == '{') {
          // title captured separately; drop the in-body declaration
          val close = MdShared.matchBrace(s, i + 6)
          i = if (close > 0) close + 1 else i + 7
        } else { para.append(c); i += 1 }
      } else { para.append(c); i += 1 }
    }
    flush()
    out.toSeq
  }

  private def blankLineAt(s: String, nl: Int): Boolean = {
    var i = nl + 1
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t')) i += 1
    i < s.length && s.charAt(i) == '\n'
  }

  private def envBlocks(env: String, content: String, lv: Map[String, Int]): Seq[String] =
    env match {
      case "verbatim" | "verbatim*" | "lstlisting" =>
        val body = content.stripPrefix("\n").replaceAll("\\s+$", "")
        Seq(s"```\n$body\n```")
      case "itemize" | "enumerate" =>
        val items = content.split("""\\item\b""").toSeq.map(_.trim).filter(_.nonEmpty)
        Seq(items.zipWithIndex.map { case (it, k) =>
          val marker = if (env == "itemize") "- " else s"${k + 1}. "
          marker + inline(it, lv).trim.replace("\n", "\n  ")
        }.mkString("\n"))
      case "equation" | "equation*" | "displaymath" | "align" | "align*" =>
        Seq("$$\n" + content.trim + "\n$$")
      case "tabular" | "tabular*" =>
        // first brace group is the column spec; rows by \\, cells by &
        val afterSpec = {
          val t = content.dropWhile(_.isWhitespace)
          if (t.startsWith("{")) {
            val close = MdShared.matchBrace(t, 0)
            if (close > 0) t.substring(close + 1) else t
          } else t
        }
        val rows = afterSpec.split("""\\\\""").toSeq
          .map(_.replace("\\hline", "").trim).filter(_.nonEmpty)
          // cells split on bare & only — \& is the escaped literal ampersand
          .map(_.split("""(?<!\\)&""").toSeq.map(c => inline(c, lv).trim))
        if (rows.isEmpty) Nil
        else {
          val header = rows.head.mkString("|", "|", "|")
          val sep = rows.head.map(_ => "---").mkString("|", "|", "|")
          val data = rows.tail.map(_.mkString("|", "|", "|"))
          Seq((header +: sep +: data).mkString("\n"))
        }
      case "figure" | "figure*" =>
        val img = argOf(content, "\\includegraphics").orElse {
          // skip an optional [width=..] argument form
          argOf(content.replaceAll("""\\includegraphics\[[^\]]*\]""", "\\\\includegraphics"),
            "\\includegraphics")
        }
        val caption = argOf(content, "\\caption").map(inline(_, lv))
        img.map(f => s"![$f]($f)").toSeq ++ caption.filter(_.nonEmpty).toSeq
      case _ =>
        // abstract/center/quote/unknown: recurse into the content
        blocks(content, lv, "")
    }

  // ---------------------------------------------------------------- inline

  /** Public inline-subset conversion (no block context) — used by
    * BibtexExtract for field values.
    */
  def inlineText(s: String): String = inline(s, Map.empty)

  private val Escapes: Map[Char, String] = Map(
    '%' -> "%", '&' -> "&", '_' -> "_", '#' -> "#", '$' -> "$",
    '{' -> "{", '}' -> "}", ' ' -> " ")

  private def inline(s: String, lv: Map[String, Int]): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '$') {
        // math passes through verbatim ($..$ or $$..$$)
        val dbl = i + 1 < s.length && s.charAt(i + 1) == '$'
        val delim = if (dbl) "$$" else "$"
        val close = s.indexOf(delim, i + delim.length)
        if (close < 0) { b.append(c); i += 1 }
        else { b.append(s.substring(i, close + delim.length)); i = close + delim.length }
      } else if (c == '\\' && i + 1 < s.length && Escapes.contains(s.charAt(i + 1))) {
        b.append(Escapes(s.charAt(i + 1))); i += 2
      } else if (c == '\\' && i + 1 < s.length && s.charAt(i + 1) == '\\') {
        b.append('\n'); i += 2
      } else if (c == '\\' && i + 1 < s.length && s.charAt(i + 1).isLetter) {
        var j = i + 1
        while (j < s.length && s.charAt(j).isLetter) j += 1
        val cmd = s.substring(i + 1, j)
        // optional [..] argument dropped
        var k = j
        if (k < s.length && s.charAt(k) == '[') {
          val cb = s.indexOf(']', k)
          if (cb > 0) k = cb + 1
        }
        def arg1: Option[(String, Int)] =
          if (k < s.length && s.charAt(k) == '{') {
            val close = MdShared.matchBrace(s, k)
            if (close > k) Some((s.substring(k + 1, close), close + 1)) else None
          } else None
        cmd match {
          case "textbf" => arg1 match {
            case Some((a, n)) => b.append("**").append(inline(a, lv)).append("**"); i = n
            case None => i = k
          }
          case "emph" | "textit" => arg1 match {
            case Some((a, n)) => b.append("*").append(inline(a, lv)).append("*"); i = n
            case None => i = k
          }
          case "texttt" => arg1 match {
            case Some((a, n)) => b.append("`").append(a).append("`"); i = n
            case None => i = k
          }
          case "href" => arg1 match {
            case Some((u, n)) =>
              val t =
                if (n < s.length && s.charAt(n) == '{') {
                  val close = MdShared.matchBrace(s, n)
                  if (close > n) Some((s.substring(n + 1, close), close + 1)) else None
                } else None
              t match {
                case Some((txt, n2)) =>
                  b.append("[").append(inline(txt, lv)).append("](").append(u).append(")"); i = n2
                case None => b.append(u); i = n
              }
            case None => i = k
          }
          case "url" => arg1 match {
            case Some((u, n)) => b.append("<").append(u).append(">"); i = n
            case None => i = k
          }
          case "cite" | "citep" | "citet" => arg1 match {
            case Some((a, n)) => b.append("[").append(a).append("]"); i = n
            case None => i = k
          }
          case "ref" | "eqref" | "autoref" => arg1 match {
            case Some((a, n)) => b.append(a); i = n
            case None => i = k
          }
          case "label" => arg1 match {
            case Some((_, n)) => i = n
            case None => i = k
          }
          case "ldots" | "dots" => b.append("..."); i = k
          case _ => arg1 match {
            // unknown one-arg command unwraps; bare command drops
            case Some((a, n)) => b.append(inline(a, lv)); i = n
            case None => i = k
          }
        }
      } else if (c == '~') { b.append(' '); i += 1 }
      else if (c == '`' && i + 1 < s.length && s.charAt(i + 1) == '`') { b.append('"'); i += 2 }
      else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') { b.append('"'); i += 2 }
      else { b.append(c); i += 1 }
    }
    b.toString
  }
}
