package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Markdown-rendering helpers shared across the extractor family (the
  * from-scratch pandoc-surface converters: DocBook/JATS StAX parsers and
  * the line-oriented troff/mdoc/DokuWiki/POD/Typst/org/notebook readers,
  * LaTeX and BibTeX).
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

  /** Nested-list line builder shared by the StAX extractors (DocBook,
    * JATS): one frame per open list (-1 = bullet, >=0 = next ordinal),
    * an item-started flag per open item, two spaces of indent per level,
    * continuation paragraphs indented under their item.
    */
  final class ListBuilder {
    private var counters = List.empty[Int]
    private var itemStarted = List.empty[Boolean]
    private val lines = ArrayBuffer.empty[String]

    def openList(ordered: Boolean): Unit =
      counters = (if (ordered) 0 else -1) :: counters
    def openItem(): Unit = itemStarted = false :: itemStarted
    def closeItem(): Unit = itemStarted = itemStarted.drop(1)

    /** Close the innermost list; when it was the outermost and lines were
      * accumulated, return the finished block.
      */
    def closeList(): Option[String] = {
      counters = counters.drop(1)
      if (counters.isEmpty && lines.nonEmpty) {
        val block = lines.mkString("\n")
        lines.clear()
        Some(block)
      } else None
    }

    /** Append item text: first text of an open item renders its marker
      * line; later text becomes a continuation line under the item.
      */
    def text(t: String): Unit = {
      val depth = counters.length
      itemStarted match {
        case false :: rest =>
          val marker = counters.head match {
            case n if n >= 0 =>
              counters = (n + 1) :: counters.tail
              s"${n + 1}. "
            case _ => "- "
          }
          lines += ("  " * (depth - 1)) + marker + t
          itemStarted = true :: rest
        case _ =>
          lines += ("  " * depth) + t
      }
    }

    /** Any item currently open (text should route into the list)? */
    def inItem: Boolean = itemStarted.nonEmpty
    /** Innermost item open but its marker line not yet emitted? */
    def itemPending: Boolean = itemStarted.headOption.contains(false)
    /** Lines accumulated for an unclosed outermost list (lenient final
      * flush for malformed documents).
      */
    def pendingLines: Option[String] =
      if (lines.nonEmpty) Some(lines.mkString("\n")) else None
  }
}
