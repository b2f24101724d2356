package graft.extract

/** JATS (Journal Article Tag Suite) XML → markdown.
  *
  * In the reference's supported surface: `application/x-jats+xml` sits in
  * its pandoc-supported MIME registry (`mime_types.py:96`); the reference
  * delegates to pandoc. From-scratch deterministic subset of the public
  * NISO JATS vocabulary, parsed with StAX:
  *
  *   - `front/article-meta/title-group/article-title` → `#` heading
  *   - `abstract` → `## Abstract` heading, then its paragraphs
  *   - `body`: `sec` nests; a `title` directly inside a `sec` renders at
  *     `1 + sec-nesting` (first-level sec title = `##`, capped `######`)
  *   - `p` → paragraph; `preformat` → fenced code
  *   - `list[@list-type]` + `list-item` → markdown lists (`order` →
  *     numbered), nested two spaces per level, one block per outermost
  *     list — the same shape as the DocBook route
  *   - inline: `italic` → `*..*`, `bold` → `**..**`,
  *     `monospace`/`code` → backticks, `ext-link@xlink:href` →
  *     `[text](href)`, `xref` passes its text through
  *   - `fig/graphic@xlink:href` → `![href](href)` reference;
  *     `fig/caption/p` renders as a normal paragraph after it
  *
  * All parse state is call-local. A document with no rendered block
  * throws (failure row).
  */
object JatsExtract {
  import XmlMarkup._

  private val Roles: Map[String, Role] = Map(
    "p" -> Para, "preformat" -> Verbatim(""),
    "list" -> ListOf(r => DocxExtract.attr(r, "list-type") == "order"), "list-item" -> Item,
    "italic" -> Mark("*"), "bold" -> Mark("**"), "monospace" -> Mark("`"), "code" -> Mark("`"),
    "ext-link" -> Link("href"), "graphic" -> Image("href"), "inline-graphic" -> Image("href"))

  def toMarkdown(src: String): String = new XmlMarkup("jats", Roles) {
    var secDepth = 0
    var abstractEmitted = false

    override def start(name: String): Unit = name match {
      case "sec" => secDepth += 1
      case "abstract" =>
        if (!abstractEmitted) { out.block("## Abstract"); abstractEmitted = true }
      case "article-title" if path.contains("title-group") => inline.clear()
      case "title" if path.lastOption.contains("sec") => inline.clear()
      case _ => ()
    }

    override def end(name: String): Unit = name match {
      case "sec" => secDepth -= 1
      case "article-title" if path.contains("title-group") => heading(1, flush())
      case "title" if path.lastOption.contains("sec") => heading(secDepth + 1, flush())
      case _ => ()
    }
  }.run(src)
}
