package graft.extract

/** Perl POD (Plain Old Documentation) → markdown.
  *
  * In the reference's supported surface: `text/x-pod` sits in its
  * pandoc-supported MIME registry (`mime_types.py:104`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the public
  * perlpod spec:
  *
  *   - `=head1`..`=head4` → `#`..`####` headings
  *   - `=over [n]` / `=item` / `=back` → markdown lists, two spaces of
  *     indent per nesting level, one block per outermost list:
  *     `=item *` → bullet, `=item 1.`/`=item 2` → numbered (from 1 at
  *     each `=over`), `=item text` → `- text`; an item's body text
  *     continues its line, and any other block inside a list goes out
  *     after the items before it
  *   - verbatim paragraphs (lines starting with whitespace) → one
  *     fenced code block per contiguous run
  *   - `=begin fmt` … `=end fmt` and `=for fmt …` skip; `=pod` resumes,
  *     `=cut` suspends (the embedded-in-Perl idiom); `=encoding` drops
  *   - inline formatting codes, innermost-first so nesting works:
  *     `B<..>` → `**..**`, `I<..>`/`F<..>` → `*..*`, `C<..>` →
  *     backticks, `S<..>` keeps its text, `L<text|url>` → `[text](url)`,
  *     `L<url>` → `[url](url)`, `E<lt>/E<gt>/E<verbar>/E<sol>` and
  *     decimal `E<n>` escapes resolve after all codes
  *
  * Blocks, lists and the no-content failure row come from [[MdShared.Blocks]].
  */
object PodExtract {

  private val Cmd = """^=(\w+)\s*(.*)$""".r
  // innermost first: content may not contain < or > until escapes resolve
  private val Code = """([BICFSLEXZ])<([^<>]*)>""".r

  def toMarkdown(src: String): String = {
    val out = new MdShared.Blocks
    var cut = false // after =cut, outside a begin/end region
    var beginFmt = "" // inside =begin … =end
    var forSkip = false // inside a =for format-specific paragraph

    def inline(s: String): String = {
      var t = s
      var changed = true
      while (changed) {
        val next = Code.replaceAllIn(t, m => {
          val body = m.group(2)
          val rep = m.group(1) match {
            case "B" => s"**$body**"
            case "I" | "F" => s"*$body*"
            case "C" => s"`$body`"
            case "S" | "X" => body
            case "Z" => ""
            case "L" =>
              val bar = body.indexOf('|')
              if (bar >= 0) s"[${body.substring(0, bar)}](${body.substring(bar + 1)})"
              else s"[$body]($body)"
            case "E" => body match {
              case "lt" => "\u0001"
              case "gt" => "\u0002"
              case "verbar" => "\u0003"
              case "sol" => "\u0004"
              case d if d.nonEmpty && d.forall(_.isDigit) =>
                // numeric escapes resolve through the same placeholders:
                // E<60> is E<lt> by definition, and a literal < emitted
                // mid-loop would be re-parsed as a formatting code
                d.toInt.toChar match {
                  case '<' => "\u0001"
                  case '>' => "\u0002"
                  case '|' => "\u0003"
                  case '/' => "\u0004"
                  case c => c.toString
                }
              case other => other
            }
          }
          java.util.regex.Matcher.quoteReplacement(rep)
        })
        changed = next != t
        t = next
      }
      t.replace('\u0001', '<').replace('\u0002', '>')
        .replace('\u0003', '|').replace('\u0004', '/').trim
    }

    for (raw <- src.split("\n", -1)) {
      val line = raw.stripSuffix("\r")
      line match {
        case Cmd(cmd, rest) =>
          out.closeFence() // a command ends a verbatim run
          forSkip = false // a command line starts a new paragraph
          cmd match {
            case "begin" => out.flushPara(); beginFmt = rest.trim
            case "end" => beginFmt = ""
            case _ if beginFmt.nonEmpty => ()
            case "cut" => out.flushPara(); cut = true
            case "pod" => cut = false
            case "encoding" => out.flushPara()
            case "for" =>
              // the WHOLE =for paragraph (continuation lines up to the
              // next blank line) is format-specific and skips
              out.flushPara(); forSkip = true
            case "head1" | "head2" | "head3" | "head4" =>
              cut = false
              out.heading(cmd.last - '0', inline(rest.trim))
            case "over" =>
              cut = false
              out.openList()
            case "back" =>
              out.flushPara()
              out.closeList()
            case "item" =>
              cut = false
              val body = rest.trim
              val numbered = body.matches("""\d+\.?""")
              // an =item outside =over opens its own list
              out.item(numbered, if (numbered || body == "*") "" else inline(body))
            case _ => ()
          }
        case _ if beginFmt.nonEmpty || cut => ()
        case l if l.trim.isEmpty =>
          forSkip = false
          out.flushPara(); out.closeFence()
        case _ if forSkip => () // continuation of a =for paragraph
        case l if l.head == ' ' || l.head == '\t' =>
          if (!out.inFence) out.openFence("")
          out.fenceLine(l)
        case l =>
          out.closeFence()
          out.para(inline(l.trim))
      }
    }
    out.finish("pod")
  }
}
