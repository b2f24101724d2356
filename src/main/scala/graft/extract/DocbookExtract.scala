package graft.extract

/** DocBook XML → markdown.
  *
  * In the reference's supported surface: `application/docbook+xml` sits
  * in its pandoc-supported MIME registry (`mime_types.py:84`); the
  * reference delegates to pandoc. From-scratch deterministic subset of
  * the public DocBook 4/5 vocabulary, parsed with StAX like the
  * OOXML/ODF routes:
  *
  *   - `article`/`book`/`chapter`/`section`/`sect1..5`/`appendix`/
  *     `preface`/`part` nest; a `title` directly inside one (or inside
  *     its transparent `info`/`articleinfo`/`bookinfo` wrapper) renders
  *     as a heading at the nesting depth (root title = `#`, capped `######`)
  *   - `para`/`simpara` → paragraphs; `programlisting`/`screen` →
  *     fenced code (language from `@language`; fence grows past any
  *     backtick run in the body)
  *   - `itemizedlist`/`orderedlist` + `listitem` → markdown lists,
  *     nested two spaces per level; an item's first `para` carries the
  *     marker, later paras continue indented under it so nested lists
  *     stay in document order, and the outermost list renders as ONE
  *     block (the same shape as the LaTeX and org routes)
  *   - inline: `emphasis` → `*..*` (`@role="bold"`/`"strong"` →
  *     `**..**`), `literal`/`code`/`command`/`filename`/`varname` →
  *     backticks, `ulink@url` / DocBook-5 `link@xlink:href` →
  *     `[text](url)`, `imagedata@fileref` → `![file](file)` block
  *
  * Unknown elements pass their content through. All parse state is local
  * to the call (executor-thread safe under local[32]). A document with
  * no rendered block throws (failure row).
  */
object DocbookExtract {
  import XmlMarkup._

  private val SectionTags = Set("article", "book", "chapter", "section",
    "sect1", "sect2", "sect3", "sect4", "sect5", "appendix", "preface", "part")
  private val InfoTags = Set("info", "articleinfo", "bookinfo", "chapterinfo")
  private val Roles: Map[String, Role] = Map(
    "para" -> Para, "simpara" -> Para,
    "programlisting" -> Verbatim("language"), "screen" -> Verbatim("language"),
    "itemizedlist" -> ListOf(_ => false), "orderedlist" -> ListOf(_ => true), "listitem" -> Item,
    "ulink" -> Link("url"), "link" -> Link("href"), "imagedata" -> Image("fileref")) ++
    Seq("literal", "code", "command", "filename", "varname").map(_ -> Mark("`"))

  def toMarkdown(src: String): String = new XmlMarkup("docbook", Roles) {
    var sectionDepth = 0

    // the element's parent is a section, with the info wrappers transparent
    def sectionParent: Boolean = {
      val i = if (path.nonEmpty && InfoTags.contains(path.last)) path.length - 2 else path.length - 1
      i >= 0 && SectionTags.contains(path(i))
    }

    override def start(name: String): Unit = name match {
      case n if SectionTags.contains(n) => sectionDepth += 1
      case "title" if sectionParent => inline.clear()
      case "emphasis" =>
        val role = attr("role")
        val m = if (role == "bold" || role == "strong") "**" else "*"
        wrap(m, m)
      case _ => ()
    }

    override def end(name: String): Unit = name match {
      case n if SectionTags.contains(n) => sectionDepth -= 1
      case "title" if sectionParent => heading(math.max(sectionDepth, 1), flush())
      case _ => ()
    }
  }.run(src)
}
