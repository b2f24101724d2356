package graft.extract

/** Typst markup → markdown.
  *
  * In the reference's supported surface: `application/x-typst` sits in
  * its pandoc-supported MIME registry (`mime_types.py:99`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the public
  * Typst markup syntax (typst.app/docs/reference/syntax), line-oriented:
  *
  *   - `= H` / `== H` / … → `#`/`##`/… headings (depth = `=` count,
  *     capped at 6)
  *   - `- item` bullet and `+ item` numbered lists; two-space indent
  *     nests; `+` items number 1..n per list, and a shallower item ends
  *     the deeper lists
  *   - triple-backtick raw blocks pass through as fences (language tag
  *     kept); inline `` `raw` `` stays
  *   - inline: `*bold*` → `**bold**`, `_emph_` → `*emph*`,
  *     `#link("url")[text]` → `[text](url)`, `#image("f.png")` →
  *     `![f.png](f.png)` as its own block
  *   - blank-line separated paragraphs; single newlines inside a
  *     paragraph join with a space
  *
  * Unknown `#function` calls pass through as text. Blocks, lists and the
  * no-content failure row come from [[MdShared.Blocks]].
  */
object TypstExtract {

  private val Heading = """^(=+)\s+(.*)$""".r
  private val Bullet = """^(\s*)-\s+(.*)$""".r
  private val Numbered = """^(\s*)\+\s+(.*)$""".r
  private val ImageCall = """^#image\("([^"]+)"[^)]*\)\s*$""".r
  private val LinkCall = """#link\("([^"]+)"\)\[([^\]]*)\]""".r
  // markers only trigger at word boundaries (typst syntax: *strong* /
  // _emph_ open after start/space/punct and close before end/space/punct)
  // — otherwise snake_case words and 2*3*4 arithmetic would corrupt, and
  // underscores inside already-rendered link URLs would re-process
  private val Bold = """(?<![\w*])\*(?=\S)((?:[^*\n]*?\S)?)\*(?![\w*])""".r
  private val Emph = """(?<![\w_])_(?=\S)((?:[^_\n]*?\S)?)_(?![\w_])""".r

  def toMarkdown(src: String): String = {
    val out = new MdShared.Blocks
    def inline(s: String): String = {
      val linked = LinkCall.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(s"[${m.group(2)}](${m.group(1)})"))
      val bolded = Bold.replaceAllIn(linked, m =>
        java.util.regex.Matcher.quoteReplacement(s"**${m.group(1)}**"))
      Emph.replaceAllIn(bolded, m =>
        java.util.regex.Matcher.quoteReplacement(s"*${m.group(1)}*")).trim
    }

    for (raw <- src.split("\n", -1)) {
      val line = raw.stripSuffix("\r")
      if (out.inFence) {
        if (line.trim == "```") out.closeFence() else out.fenceLine(line)
      } else line match {
        case Bullet(indent, text) => out.itemAt(indent.length / 2, numbered = false, inline(text))
        case Numbered(indent, text) => out.itemAt(indent.length / 2, numbered = true, inline(text))
        case _ =>
          out.endList() // any other line ends the list
          line match {
            case l if l.startsWith("```") => out.openFence(l.drop(3).trim)
            case Heading(eqs, text) => out.heading(eqs.length, inline(text))
            case ImageCall(ref) => out.image(ref)
            case l if l.trim.isEmpty => out.flushPara()
            case l => out.para(inline(l))
          }
      }
    }
    out.finish("typst")
  }
}
