package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Org-mode (.org) → markdown.
  *
  * In the reference's supported surface: `text/x-org` sits in its
  * pandoc-supported MIME registry (`mime_types.py:109`) and `.org` in
  * `EXT_TO_MIME` (`mime_types.py:157`); the MarkItDown converter also
  * names org among its formats (`markitdown_provider/provider.py:50`).
  * The reference delegates the conversion; this is a from-scratch
  * deterministic subset with pandoc-shaped rules:
  *
  *   - `#+TITLE:` renders as a `#` heading at its position (the LaTeX
  *     `\maketitle` analog); other `#+KEYWORD:` lines drop
  *   - `*`-star headlines → `#` headings (stars = level, capped at 6);
  *     `# ` comment lines drop
  *   - `#+BEGIN_SRC lang` / `#+BEGIN_EXAMPLE` → fenced code (the fence
  *     widens past backtick runs inside); `#+BEGIN_QUOTE` → `>` quote;
  *     any other `#+BEGIN_x/#+END_x` drops its markers, content kept
  *   - org tables → pipe tables (`|---+---|` rules become the `|---|`
  *     separator after the first row, dropped elsewhere)
  *   - lists pass through: `- ` and `+ ` → `- `; `N)` → `N.`;
  *     `[X]`/`[ ]` checkboxes → markdown task boxes
  *   - inline: `*bold*` → `**bold**`, `/italic/` → `*italic*`,
  *     `~code~` / `=verbatim=` → backticks (marker recognized only
  *     between word boundaries, org's own rule of thumb);
  *     `[[url][desc]]` → `[desc](url)`, `[[url]]` → `<url>`, and a
  *     `file:` link to an image extension → `![file](file)` so it flows
  *     into the span grammar as an interleaved image reference
  *
  * Blocks are separated by blank lines exactly as the source has them;
  * the output feeds the plain-markdown span grammar (`md_plain`).
  */
object OrgExtract {

  private val Headline = """^(\*+)\s+(.*)$""".r
  private val Keyword = """^#\+([A-Za-z_]+):\s*(.*)$""".r
  private val BeginBlock = """(?i)^#\+BEGIN_([A-Za-z]+)(?:\s+(\S+))?\s*$""".r
  private val EndBlock = """(?i)^#\+END_([A-Za-z]+)\s*$""".r
  private val TableRule = """^\s*\|[-+|]*\|?\s*$""".r
  private val OrderedItem = """^(\s*)(\d+)\)\s(.*)$""".r
  private val Checkbox = """^(\s*(?:-|\+|\d+[.)])\s)\[(X| )\]""".r

  def toMarkdown(src: String): String = {
    val lines = src.split("\n", -1).toIndexedSeq
    val out = ArrayBuffer.empty[String]
    var i = 0
    var inTable = false
    var tableRow = 0
    while (i < lines.length) {
      val line = lines(i)
      val wasTable = inTable
      inTable = false
      line match {
        case BeginBlock(kind, lang) if kind.equalsIgnoreCase("SRC") ||
            kind.equalsIgnoreCase("EXAMPLE") =>
          val end = lines.indexWhere({
            case EndBlock(k) => k.equalsIgnoreCase(kind)
            case _ => false
          }, i + 1)
          val stop = if (end < 0) lines.length else end
          val body = lines.slice(i + 1, stop).mkString("\n")
          val tag = if (kind.equalsIgnoreCase("SRC") && lang != null) lang else ""
          out += MdShared.fence(body, tag)
          i = stop + 1
        case BeginBlock(kind, _) if kind.equalsIgnoreCase("QUOTE") =>
          val end = lines.indexWhere({
            case EndBlock(k) => k.equalsIgnoreCase(kind)
            case _ => false
          }, i + 1)
          val stop = if (end < 0) lines.length else end
          lines.slice(i + 1, stop).foreach(l => out += ("> " + inline(l)).stripTrailing())
          i = stop + 1
        case BeginBlock(_, _) | EndBlock(_) =>
          i += 1 // unknown block: markers drop, content flows through
        case Headline(stars, text) =>
          out += ("#" * math.min(stars.length, 6)) + " " + inline(text)
          i += 1
        case Keyword(kw, value) =>
          if (kw.equalsIgnoreCase("TITLE") && value.nonEmpty) out += "# " + inline(value)
          i += 1
        case l if l.startsWith("# ") || l == "#" =>
          i += 1 // org comment line
        case TableRule() =>
          // a rule right after the first table row becomes the markdown
          // separator; other rules drop
          if (wasTable && tableRow == 1) {
            val ncols = math.max(1, out.last.count(_ == '|') - 1)
            out += ("|" + "---|" * ncols)
            tableRow += 1 // a second rule right after must drop, not repeat
          }
          inTable = wasTable
          i += 1
        case l if l.trim.startsWith("|") =>
          val cells = splitRow(l.trim)
          out += cells.map(inline).mkString("|", "|", "|")
          if (!wasTable) tableRow = 0
          tableRow += 1
          inTable = true
          i += 1
        case OrderedItem(indent, n, rest) =>
          out += checkbox(indent + n + ". " + inline(rest))
          i += 1
        case l if l.trim.startsWith("+ ") =>
          val k = l.indexOf('+')
          out += checkbox(l.substring(0, k) + "- " + inline(l.substring(k + 2)))
          i += 1
        case l =>
          out += checkbox(inline(l)).stripTrailing()
          i += 1
      }
    }
    // collapse runs of blank lines the drops may have created
    val sb = new StringBuilder
    var blanks = 0
    out.foreach { l =>
      if (l.isEmpty) blanks += 1
      else {
        if (sb.nonEmpty) sb.append(if (blanks > 0) "\n\n" else "\n")
        sb.append(l)
        blanks = 0
      }
    }
    sb.toString
  }

  private def checkbox(l: String): String =
    Checkbox.replaceAllIn(l, m =>
      java.util.regex.Matcher.quoteReplacement(
        m.group(1) + (if (m.group(2) == "X") "[x]" else "[ ]")))

  /** `|a|b|` → cells (no escaped-pipe syntax in org tables). */
  private def splitRow(row: String): Seq[String] = {
    val inner = row.stripPrefix("|").stripSuffix("|")
    inner.split("\\|", -1).toSeq.map(_.trim)
  }

  private val Link = """\[\[([^\]\[]+)\](?:\[([^\]]*)\])?\]""".r
  private val ImageExts = Set("png", "jpg", "jpeg", "gif", "svg", "webp", "bmp")

  // marker between word boundaries: preceded by start/space/punct(not the
  // marker), body starts and ends non-space, followed by end/space/punct
  private def emphRe(quoted: String) =
    (s"(?<![\\w$quoted])$quoted(?=\\S)((?:[^$quoted\\n]*?\\S)?)$quoted(?![\\w$quoted])").r

  private val Bold = emphRe("\\*")
  private val Italic = emphRe("/")
  private val Code = emphRe("~")
  private val Verbatim = emphRe("=")

  private def inline(s: String): String = {
    val linked = Link.replaceAllIn(s, m => {
      val url = m.group(1)
      val desc = Option(m.group(2)).getOrElse("")
      val file = url.stripPrefix("file:")
      val ext = file.lastIndexOf('.') match {
        case k if k >= 0 => file.substring(k + 1).toLowerCase
        case _ => ""
      }
      val md =
        if (desc.isEmpty && ImageExts.contains(ext)) s"![$file]($file)"
        else if (desc.isEmpty) s"<$url>"
        else s"[$desc]($file)"
      java.util.regex.Matcher.quoteReplacement(md)
    })
    val bolded = Bold.replaceAllIn(linked, m =>
      java.util.regex.Matcher.quoteReplacement("**" + m.group(1) + "**"))
    val ital = Italic.replaceAllIn(bolded, m =>
      java.util.regex.Matcher.quoteReplacement("*" + m.group(1) + "*"))
    val coded = Code.replaceAllIn(ital, m =>
      java.util.regex.Matcher.quoteReplacement("`" + m.group(1) + "`"))
    Verbatim.replaceAllIn(coded, m =>
      java.util.regex.Matcher.quoteReplacement("`" + m.group(1) + "`"))
  }
}
