package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Markdown-rendering helpers shared across the extractor family (the
  * from-scratch pandoc-surface converters: the [[XmlMarkup]] walker behind
  * DocBook/FB2/JATS/OPML/EndNote and the line-oriented
  * troff/mdoc/DokuWiki/POD/Typst/org/notebook readers, LaTeX and BibTeX),
  * and [[MdShared.Blocks]], the block builder of the walker and the five
  * line converters.
  */
private[extract] object MdShared {

  /** Fence a block, widening past any backtick run inside the body —
    * otherwise a body containing ``` terminates the fence early in the
    * downstream md_plain span grammar.
    */
  def fence(body: String, lang: String): String = {
    val longest = "`+".r.findAllIn(body).map(_.length).maxOption.getOrElse(0)
    val ticks = "`" * math.max(3, longest + 1)
    s"$ticks$lang\n$body\n$ticks"
  }

  /** Index of the `}` matching the `{` at `open`, or -1; a backslash
    * escapes the next char. LaTeX and BibTeX share this grammar.
    */
  def matchBrace(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) i += 1
      else if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  /** Quoted-argument tokenizer for troff request lines: space-separated,
    * double quotes group. man(7) and mdoc(7) share this grammar.
    */
  def troffArgs(rest: String): List[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    val s = rest.trim
    while (i < s.length) {
      while (i < s.length && s.charAt(i) == ' ') i += 1
      if (i < s.length) {
        if (s.charAt(i) == '"') {
          val e = s.indexOf('"', i + 1)
          if (e < 0) { out += s.substring(i + 1); i = s.length }
          else { out += s.substring(i + 1, e); i = e + 1 }
        } else {
          var e = i
          while (e < s.length && s.charAt(e) != ' ') e += 1
          out += s.substring(i, e)
          i = e
        }
      }
    }
    out.toList
  }

  /** One document's markdown, block by block in source order: the
    * running paragraph, heading, image and code blocks, and nested lists.
    * The line converters (Typst, DokuWiki, POD, troff, mdoc) and the
    * [[XmlMarkup]] walker keep only their grammar and build here.
    *
    *   - Paragraph text joins with spaces and is trimmed; while an item
    *     line is pending, text continues that line instead.
    *   - Any other block first emits the paragraph and the pending item
    *     lines; the open lists stay open and keep their numbering.
    *   - One frame per open list holds its numbering; an item line is
    *     indented two spaces per enclosing list. A list nested deeper than
    *     [[Bin.MaxNesting]] fails the document: the indentation would
    *     grow quadratically.
    *   - A fence still open at the end renders.
    */
  final class Blocks {
    private final class Frame(val ordered: Boolean) { var n = 0 }

    private val blocks = ArrayBuffer.empty[String]
    private val parts = ArrayBuffer.empty[String]
    private val lines = ArrayBuffer.empty[String]
    private var frames = List.empty[Frame]
    private var fenceLines: ArrayBuffer[String] = _
    private var fenceLang = ""

    /** Paragraph text, or the continuation of the pending item line. */
    def para(t: String): Unit =
      if (lines.nonEmpty) lines(lines.length - 1) = lines.last.stripTrailing() + " " + t
      else parts += t

    /** End the paragraph; `close` is appended to its text (troff's open font). */
    def flushPara(close: String = ""): Unit = if (parts.nonEmpty) {
      val t = (parts.mkString(" ") + close).trim
      parts.clear()
      blocks += t
    }

    /** A finished block, after the paragraph and the pending item lines. */
    def block(b: String): Unit = {
      flushPara()
      flushLines()
      blocks += b
    }

    def heading(level: Int, t: String): Unit = block("#" * math.min(level, 6) + " " + t)
    def image(ref: String): Unit = block(s"![$ref]($ref)")
    def code(body: String, lang: String): Unit = block(fence(body, lang))

    def openFence(lang: String): Unit = {
      flushPara()
      fenceLines = ArrayBuffer.empty[String]
      fenceLang = lang
    }
    def inFence: Boolean = fenceLines != null
    def fenceLine(l: String): Unit = fenceLines += l
    def closeFence(): Unit = if (fenceLines != null) {
      val body = fenceLines.mkString("\n")
      fenceLines = null
      code(body, fenceLang)
    }

    def openList(ordered: Boolean = false): Unit = {
      if (frames.length >= Bin.MaxNesting)
        throw new IllegalStateException(s"lists nested deeper than ${Bin.MaxNesting}")
      flushPara()
      frames = new Frame(ordered) :: frames
    }
    /** Close the innermost list; closing the outermost emits its lines. */
    def closeList(): Unit = {
      frames = frames.drop(1)
      if (frames.isEmpty) flushLines()
    }
    /** Close every open list. */
    def endList(): Unit = {
      frames = Nil
      flushLines()
    }
    def inList: Boolean = frames.nonEmpty
    /** Was the innermost list opened as numbered? */
    def ordered: Boolean = frames.head.ordered

    /** An item line in the innermost list, which opens if none is. */
    def item(numbered: Boolean, t: String): Unit = {
      flushPara()
      if (frames.isEmpty) openList()
      val marker = if (numbered) { frames.head.n += 1; s"${frames.head.n}. " } else "- "
      lines += pad + marker + t
    }
    /** An item at list depth `depth` (0 = outermost), the lists derived from
      * indentation: deeper lists close, missing ones open.
      */
    def itemAt(depth: Int, numbered: Boolean, t: String): Unit = {
      frames = frames.drop(frames.length - depth - 1)
      while (frames.length <= depth) openList()
      item(numbered, t)
    }
    /** A further paragraph of the innermost item, indented under it. */
    def indented(t: String): Unit =
      if (lines.nonEmpty) lines += pad + "  " + t else block(t)

    // an item line's indent: two spaces per list enclosing the innermost
    private def pad: String = "  " * (frames.length - 1)

    private def flushLines(): Unit = if (lines.nonEmpty) {
      blocks += lines.mkString("\n")
      lines.clear()
    }

    /** The document: every pending block emitted, joined by blank lines. */
    def finish(kind: String): String = {
      closeFence()
      flushPara()
      flushLines()
      if (blocks.isEmpty) throw new IllegalArgumentException(s"$kind: no content")
      blocks.mkString("\n\n")
    }
  }
}
