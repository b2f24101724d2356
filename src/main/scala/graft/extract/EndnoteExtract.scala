package graft.extract

import scala.collection.mutable.ArrayBuffer

/** EndNote XML bibliography → markdown reference list.
  *
  * In the reference's supported surface: `application/x-endnote+xml` sits
  * in its pandoc-supported MIME registry (`mime_types.py:92`); the
  * reference delegates to pandoc (citeproc). The EndNote export schema is
  * `<records><record>…` with text wrapped in `<style>` runs; the fields
  * used (normalized into [[BibtexExtract.render]]):
  *
  *   - kind: `ref-type/@name` lowercased (spaces → `-`), else `entry`
  *   - key: `rec-number` text when present, else `ref-N` by position
  *   - authors: every `contributors/authors/author`, joined `, `
  *   - title: `titles/title`; venue: `periodical/full-title`, else
  *     `titles/secondary-title`; year: `dates/year`
  *
  * Parsed with StAX exactly like the OOXML/ODF routes; a document with
  * no `<record>` throws (failure row).
  */
object EndnoteExtract {

  def toMarkdown(src: String): String = new XmlMarkup("endnote") {
    // the current record's non-empty fields, by element name ("kind" from ref-type)
    val fields = scala.collection.mutable.Map.empty[String, String].withDefaultValue("")
    val authors = ArrayBuffer.empty[String]
    val records = ArrayBuffer.empty[String]
    def inRecord = path.contains("record")

    // <style> runs wrap every field's text in the EndNote export schema —
    // transparent: accumulate across them so
    // <title><style>A</style><style>B</style></title> yields "AB"
    override def start(name: String): Unit = {
      if (name != "style") inline.clear()
      if (name == "record") {
        fields.clear()
        authors.clear()
      } else if (name == "ref-type" && inRecord) {
        val n = attr("name")
        if (n.nonEmpty) fields("kind") = n.toLowerCase.replace(' ', '-')
      }
    }

    override def end(name: String): Unit = {
      val t = inline.toString.trim
      if (inRecord && t.nonEmpty) name match {
        case "author" => authors += t
        case "title" if path.contains("titles") => if (!fields.contains(name)) fields(name) = t
        case "full-title" if path.contains("periodical") => fields(name) = t
        case "year" if path.contains("dates") => fields(name) = t
        case "rec-number" | "secondary-title" => fields(name) = t
        case _ => ()
      }
      if (name == "record")
        records += BibtexExtract.render(
          fields.getOrElse("kind", "entry"), fields.getOrElse("rec-number", s"ref-${records.size + 1}"),
          Map("author" -> authors.mkString(", "), "year" -> fields("year"), "title" -> fields("title"),
            "journal" -> fields.getOrElse("full-title", fields("secondary-title"))))
      if (name != "style") inline.clear()
    }

    override def finish(): String = {
      if (records.isEmpty) throw new IllegalArgumentException("endnote: no records")
      records.mkString("\n")
    }
  }.run(src)
}
