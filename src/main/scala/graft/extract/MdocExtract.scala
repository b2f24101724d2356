package graft.extract

import scala.collection.mutable.ArrayBuffer

/** mdoc (BSD man) markup → markdown.
  *
  * In the reference's supported surface: `text/x-mdoc` sits in its
  * pandoc-supported MIME registry (`mime_types.py:103`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the public
  * mdoc(7) semantic macro package:
  *
  *   - `.Dt TITLE sec` → `# TITLE(sec)`; `.Sh` → `##`, `.Ss` → `###`;
  *     `.Dd`/`.Os` prologue lines drop
  *   - `.Pp` → paragraph break; `.Nd desc` → `— desc` in the running
  *     paragraph (the NAME-section idiom)
  *   - `.Bl -bullet|-enum|-tag …` / `.It args` / `.El` → markdown
  *     lists (`-enum` numbered), nested two spaces per level, one block
  *     per outermost list; text lines inside an item continue that
  *     item's line, any other block inside a list goes out after the
  *     items before it, and an `.It` outside any `.Bl` is running text
  *   - `.Bd -literal` … `.Ed` → fenced code; `.Dl line` → one-line fence
  *   - inline semantic macros (in macro lines, callable mid-sequence):
  *     `Fl w` → `**-w**`, `Ar`/`Em`/`Pa`/`Va` → `*w*`, `Cm`/`Ic`/`Sy` →
  *     `**w**`, `Li`/`Dv`/`Er`/`Ev` → `` `w` ``, `Xr name sec` →
  *     `name(sec)`, `Nm` → bold document name (first `.Nm` arg sticks);
  *     single-character punctuation args attach without a space
  *
  * Requests outside the subset are dropped (text lines still render).
  * Blocks, lists and the no-content failure row come from [[MdShared.Blocks]].
  */
object MdocExtract {

  private val Star = Set("Ar", "Em", "Pa", "Va")
  private val BoldM = Set("Cm", "Ic", "Sy")
  private val CodeM = Set("Li", "Dv", "Er", "Ev")
  private val AllMacros =
    Star ++ BoldM ++ CodeM ++ Set("Fl", "Nm", "Xr", "No")

  def toMarkdown(src: String): String = {
    val out = new MdShared.Blocks
    var docName = ""

    // render a callable-macro token sequence into inline markdown
    def render(toks: List[String]): String = {
      val parts = ArrayBuffer.empty[String]
      var ts = toks
      def isMac(w: String) = AllMacros.contains(w)
      while (ts.nonEmpty) ts match {
        case "Xr" :: n :: s :: rest if !isMac(n) && !isMac(s) =>
          parts += s"$n($s)"; ts = rest
        case "Fl" :: w :: rest if !isMac(w) => parts += s"**-$w**"; ts = rest
        case "Fl" :: rest => parts += "**-**"; ts = rest
        case "Nm" :: w :: rest if !isMac(w) =>
          if (docName.isEmpty) docName = w
          parts += s"**$w**"; ts = rest
        case "Nm" :: rest => parts += s"**$docName**"; ts = rest
        case "No" :: w :: rest => parts += w; ts = rest
        case m :: w :: rest if isMac(m) && !isMac(w) =>
          parts += (if (Star(m)) s"*$w*"
                    else if (BoldM(m)) s"**$w**"
                    else s"`$w`")
          ts = rest
        case m :: rest if isMac(m) => ts = rest // dangling macro
        case w :: rest => parts += w; ts = rest
        case Nil => () // unreachable: loop guard
      }
      parts.foldLeft("") { (acc, p) =>
        if (acc.isEmpty) p
        else if (p.length == 1 && ",.;:)]".contains(p)) acc + p
        else acc + " " + p
      }
    }
    for (raw <- src.split("\n", -1)) {
      val line = raw.stripSuffix("\r")
      if (out.inFence) {
        if (line == ".Ed") out.closeFence() else out.fenceLine(line)
      } else if (line.startsWith(".\\\"")) {
        () // comment
      } else if (line.startsWith(".")) {
        // request-line tokenizer shared with man(7) — same quoting grammar
        val toks = MdShared.troffArgs(line.drop(1))
        (toks.headOption.getOrElse(""), toks.drop(1)) match {
          case ("Dd" | "Os", _) => ()
          case ("Dt", a) =>
            out.flushPara()
            if (a.nonEmpty) out.heading(1, a.head + a.lift(1).map(s => s"($s)").getOrElse(""))
          case ("Sh", a) => out.heading(2, render(a))
          case ("Ss", a) => out.heading(3, render(a))
          case ("Pp" | "Lp", _) => out.flushPara()
          case ("Nd", a) => out.para("— " + render(a))
          case ("Bl", a) => out.openList(ordered = a.contains("-enum"))
          // outside any .Bl the rendered arguments are running text
          case ("It", a) => if (out.inList) out.item(out.ordered, render(a)) else out.para(render(a))
          case ("El", _) => out.closeList()
          case ("Bd", _) => out.openFence("")
          case ("Dl" | "D1", a) => out.code(a.mkString(" "), "")
          case (m, a) if AllMacros.contains(m) => out.para(render(m :: a))
          case _ => () // outside the subset
        }
      } else if (line.trim.isEmpty) {
        out.flushPara()
      } else {
        out.para(line.trim)
      }
    }
    out.finish("mdoc")
  }
}
