package graft.extract

import scala.collection.mutable.ArrayBuffer

/** OPML (Outline Processor Markup Language) → markdown.
  *
  * In the reference's supported surface: `application/x-opml+xml` sits in
  * its pandoc-supported MIME registry (`mime_types.py:97`); the reference
  * delegates to pandoc. OPML 2.0 is a public spec: `<head><title>` and a
  * `<body>` of nested `<outline>` elements whose payload lives in
  * attributes:
  *
  *   - `head/title` → `#` heading
  *   - each `outline` → one bullet line from `@text` (falling back to
  *     `@title`), indented two spaces per nesting level; the whole body
  *     renders as ONE list block
  *   - an `outline` with `@xmlUrl` (the RSS-subscription idiom) renders
  *     its text as `[text](xmlUrl)`
  *   - `@_note` (the note-taking idiom) appends after an em-dash
  *
  * All parse state is call-local. A document with no outline and no
  * title throws (failure row).
  */
object OpmlExtract {

  def toMarkdown(src: String): String = new XmlMarkup("opml") {
    val lines = ArrayBuffer.empty[String]
    var depth = 0

    override def start(name: String): Unit = name match {
      case "title" if path.lastOption.contains("head") => inline.clear()
      case "outline" =>
        val t0 = attr("text")
        val t = if (t0.nonEmpty) t0 else attr("title")
        val url = attr("xmlUrl")
        val note = attr("_note")
        val label = if (url.nonEmpty) s"[$t]($url)" else t
        val full = if (note.nonEmpty) s"$label — $note" else label
        if (t.nonEmpty) lines += ("  " * depth) + "- " + full
        depth += 1
      case _ => ()
    }

    override def end(name: String): Unit = name match {
      // read without clearing: an outer head title keeps the text of a
      // nested one
      case "title" if path.lastOption.contains("head") =>
        heading(1, DocxExtract.collapseWs(inline.toString).trim)
      case "outline" => depth -= 1
      case _ => ()
    }

    override def finish(): String = {
      if (lines.nonEmpty) out.block(lines.mkString("\n"))
      super.finish()
    }
  }.run(src)
}
