package graft.extract

/** DokuWiki markup → markdown.
  *
  * In the reference's supported surface: `text/x-dokuwiki` sits in its
  * pandoc-supported MIME registry (`mime_types.py:100`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the public
  * DokuWiki syntax (dokuwiki.org/wiki:syntax), line-oriented:
  *
  *   - `====== H ======` headings: six `=` is h1 down to two `=` is h5
  *   - lists: two spaces of indent per level, then `* ` (bullet) or
  *     `- ` (ordered, 1..n per list; a shallower item ends the deeper
  *     lists); one block per list
  *   - `<code lang>` … `</code>` → fenced code block
  *   - inline: `**bold**` stays, `//italic//` → `*italic*`,
  *     `''mono''` → backticks, `[[url|text]]` → `[text](url)`,
  *     `[[url]]` → `[url](url)`, `{{img.png}}` → `![img.png](img.png)`
  *     (alignment padding and `?size` suffixes strip), `\\ ` forced
  *     line break joins with a space
  *   - blank-line separated paragraphs
  *
  * Blocks, lists and the no-content failure row come from [[MdShared.Blocks]].
  */
object DokuwikiExtract {

  private val Heading = """^(={2,6})\s*(.*?)\s*=+\s*$""".r
  private val ListItem = """^((?:  )+)([*-])\s+(.*)$""".r
  private val CodeOpen = """^<code(?:\s+(\w+))?>\s*$""".r
  private val Italic = """//([^/\n]+(?:/[^/\n]+)*)//""".r
  // DokuWiki special-cases URLs before emphasis: every slash of a
  // scheme://… token (bare, or inside an already-rendered markdown link)
  // is masked before the Italic pass so '//' runs inside URLs can never
  // open or close an emphasis span, then unmasked after
  private val UrlToken = """[a-zA-Z][\w+.-]*://[^\s)\]|]*""".r
  private val Mono = """''([^'\n]+)''""".r
  private val LinkText = """\[\[([^\]|]+)\|([^\]]+)\]\]""".r
  private val LinkBare = """\[\[([^\]|]+)\]\]""".r
  private val Media = """\{\{\s*([^}|?]+?)(?:\?[^}|]*)?\s*(?:\|[^}]*)?\}\}""".r

  def toMarkdown(src: String): String = {
    val out = new MdShared.Blocks
    def q(s: String): String = java.util.regex.Matcher.quoteReplacement(s)
    def inline(s: String): String = {
      var t = s.replace("\\\\ ", " ").replaceAll("""\\\\$""", "")
      t = Media.replaceAllIn(t, m => {
        val ref = m.group(1).trim
        q(s"![$ref]($ref)")
      })
      t = LinkText.replaceAllIn(t, m => q(s"[${m.group(2).trim}](${m.group(1).trim})"))
      t = LinkBare.replaceAllIn(t, m => { val u = m.group(1).trim; q(s"[$u]($u)") })
      t = UrlToken.replaceAllIn(t, m => q(m.matched.replace('/', '\u0005')))
      t = Italic.replaceAllIn(t, m => q(s"*${m.group(1)}*"))
      t = Mono.replaceAllIn(t, m => q(s"`${m.group(1)}`"))
      t.replace('\u0005', '/').trim
    }

    for (raw <- src.split("\n", -1)) {
      val line = raw.stripSuffix("\r")
      if (out.inFence) {
        if (line.trim == "</code>") out.closeFence() else out.fenceLine(line)
      } else line match {
        case ListItem(indent, kind, text) => out.itemAt(indent.length / 2 - 1, kind == "-", inline(text))
        case _ =>
          out.endList() // any other line ends the list
          line match {
            case CodeOpen(lang) => out.openFence(Option(lang).getOrElse(""))
            case Heading(eqs, text) => out.heading(7 - eqs.length, inline(text)) // ====== → 1, == → 5
            case l if l.trim.isEmpty => out.flushPara()
            case l => out.para(inline(l))
          }
      }
    }
    out.finish("dokuwiki")
  }
}
