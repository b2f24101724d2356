package graft.extract

import scala.collection.mutable.ArrayBuffer

/** FictionBook 2 (.fb2) XML → markdown.
  *
  * In the reference's supported surface: `application/x-fictionbook+xml`
  * sits in its pandoc-supported MIME registry (`mime_types.py:86`); the
  * reference delegates to pandoc. From-scratch deterministic subset of
  * the public FictionBook 2.0 schema, parsed with StAX:
  *
  *   - `description/title-info/book-title` → `#` heading
  *   - inside a `body`: `<title>` renders as a heading at
  *     `1 + section-nesting` (a body-level title is `#`, a first-level
  *     `section` title `##`, capped at `######`); the `<p>` lines inside
  *     a title join with a single space
  *   - `<p>` → paragraph; `<empty-line/>` ignored
  *   - `<poem>`/`<stanza>`/`<v>` → one block per stanza, verse lines
  *     joined by newline; `<cite>` paragraphs render as `> ` quotes
  *   - inline: `<emphasis>` → `*..*`, `<strong>` → `**..**`,
  *     `<code>` → backticks, `<a l:href>` → `[text](href)`
  *   - `<image l:href="#id"/>` → `![id](id)` reference (the `#` anchor
  *     strips; `<binary>` payloads are not decoded — reference-only,
  *     same bound as the markdown image grammar)
  *
  * All parse state is call-local. A document with no rendered block
  * throws (failure row).
  */
object Fb2Extract {
  import XmlMarkup._

  // binary payloads (base64) never reach the text
  private val Roles: Map[String, Role] = Map(
    "p" -> Para, "v" -> Para, "subtitle" -> Para, "text-author" -> Para, "book-title" -> Para,
    "emphasis" -> Mark("*"), "strong" -> Mark("**"), "code" -> Mark("`"), "a" -> Link("href"),
    "binary" -> Hidden)

  def toMarkdown(src: String): String = new XmlMarkup("fb2", Roles) {
    var inBody = false
    var sectionDepth = 0
    var inTitle = false
    val titleParts = ArrayBuffer.empty[String]
    var inCite = false
    val verseLines = ArrayBuffer.empty[String]

    override def paragraph(name: String, t: String): Unit = name match {
      case "book-title" => heading(1, t)
      case "subtitle" => heading(sectionDepth + 2, t)
      case "v" => verseLines += t
      case "text-author" => out.block(s"— $t")
      case _ if inTitle => titleParts += t
      case _ if inCite => out.block(s"> $t")
      case _ => out.block(t)
    }

    override def start(name: String): Unit = name match {
      case "body" => inBody = true
      case "section" if inBody => sectionDepth += 1
      case "title" if inBody =>
        inTitle = true; titleParts.clear(); inline.clear()
      case "poem" | "stanza" => verseLines.clear()
      case "cite" => inCite = true
      case "image" => image(attr("href").stripPrefix("#"))
      case _ => ()
    }

    override def end(name: String): Unit = name match {
      case "body" => inBody = false
      case "section" if inBody => sectionDepth -= 1
      case "title" if inBody =>
        inTitle = false
        heading(sectionDepth + 1, titleParts.mkString(" "))
      case "stanza" =>
        if (verseLines.nonEmpty) {
          out.block(verseLines.mkString("\n"))
          verseLines.clear()
        }
      case "cite" => inCite = false
      case _ => ()
    }
  }.run(src)
}
