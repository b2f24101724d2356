package graft.extract

import scala.collection.mutable.ArrayBuffer

/** BibTeX (.bib) → markdown reference list.
  *
  * In the reference's supported surface: `application/x-bibtex` sits in its
  * pandoc-supported MIME registry (`mime_types.py:91`) and `.bib` in
  * `EXT_TO_MIME` (`mime_types.py:163`). The reference delegates to pandoc
  * (citeproc); this is a from-scratch deterministic contract:
  *
  *   - each `@type{key, field = value, ...}` entry becomes one list line
  *     `- **key** (type): author (year). *title*. journal.` with missing
  *     fields omitted; entries keep file order as one markdown list block
  *   - values accept `{..}` (nested braces), `".."`, or bare tokens;
  *     outer braces strip, `" and "` between authors renders as `, `,
  *     TeX escapes in values unescape via the LaTeX inline subset
  *   - `@comment` / `@preamble` / `@string` entries are skipped (string
  *     macros are not expanded — documented bound)
  *
  * A malformed head (no `@` entry at all) throws — the pipeline converts
  * that into a failure row.
  */
object BibtexExtract {

  private case class Entry(kind: String, key: String, fields: Map[String, String])

  def toMarkdown(src: String): String = {
    val entries = parse(src)
    if (entries.isEmpty)
      throw new IllegalArgumentException("bibtex: no entries")
    entries.map(e => render(e.kind, e.key, e.fields)).mkString("\n")
  }

  /** TeX-unescape a field value and drop case-protection braces. */
  private def clean(v: String): String =
    LatexExtract.inlineText(v).replace("{", "").replace("}", "")

  /** One reference-list line — the shared render shape for every
    * bibliography dialect (BibTeX here; RIS, CSL-JSON, and EndNote XML
    * normalize their fields into the same author/year/title/venue slots).
    */
  private[extract] def render(kind: String, key: String,
      fields: Map[String, String]): String = {
    def f(n: String): Option[String] = fields.get(n).filter(_.nonEmpty)
    val author = f("author").map(a => clean(a).replace(" and ", ", "))
    val year = f("year").map(clean)
    val title = f("title").map(t => s"*${clean(t)}*")
    val venue = f("journal").orElse(f("booktitle")).map(clean)
    val head = (author, year) match {
      case (Some(a), Some(y)) => Some(s"$a ($y)")
      case (Some(a), None) => Some(a)
      case (None, Some(y)) => Some(s"($y)")
      case _ => None
    }
    val parts = (head.toSeq ++ title.toSeq ++ venue.toSeq).mkString(". ")
    val tail = if (parts.isEmpty) "" else s": $parts."
    s"- **$key** ($kind)$tail"
  }

  private def parse(src: String): Seq[Entry] = {
    val out = ArrayBuffer.empty[Entry]
    var i = 0
    while (i < src.length) {
      val at = src.indexOf('@', i)
      if (at < 0) return out.toSeq
      var j = at + 1
      while (j < src.length && src.charAt(j).isLetter) j += 1
      val kind = src.substring(at + 1, j).toLowerCase
      while (j < src.length && src.charAt(j).isWhitespace) j += 1
      if (j >= src.length || src.charAt(j) != '{') { i = at + 1 }
      else {
        val close = MdShared.matchBrace(src, j)
        val body = if (close > j) src.substring(j + 1, close) else src.substring(j + 1)
        if (kind != "comment" && kind != "preamble" && kind != "string") {
          val comma = body.indexOf(',')
          val key = (if (comma < 0) body else body.substring(0, comma)).trim
          val fields =
            if (comma < 0) Map.empty[String, String]
            else parseFields(body.substring(comma + 1))
          if (key.nonEmpty) out += Entry(kind, key, fields)
        }
        i = if (close > j) close + 1 else src.length
      }
    }
    out.toSeq
  }

  private def parseFields(body: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < body.length) {
      while (i < body.length && (body.charAt(i).isWhitespace || body.charAt(i) == ',')) i += 1
      var j = i
      while (j < body.length && (body.charAt(j).isLetterOrDigit || body.charAt(j) == '-' || body.charAt(j) == '_')) j += 1
      val name = body.substring(i, j).toLowerCase
      var k = j
      while (k < body.length && body.charAt(k).isWhitespace) k += 1
      if (name.isEmpty || k >= body.length || body.charAt(k) != '=') {
        i = if (j > i) j else i + 1
      } else {
        k += 1
        while (k < body.length && body.charAt(k).isWhitespace) k += 1
        val (value, next) =
          if (k < body.length && body.charAt(k) == '{') {
            val close = MdShared.matchBrace(body, k)
            if (close > k) (body.substring(k + 1, close), close + 1)
            else (body.substring(k + 1), body.length)
          } else if (k < body.length && body.charAt(k) == '"') {
            // BibTeX's brace-protected-quote idiom: a `"` at brace depth
            // > 0 (e.g. {"} inside the value) does not close the field
            var e = k + 1
            var depth = 0
            while (e < body.length && !(depth == 0 && body.charAt(e) == '"')) {
              val ch = body.charAt(e)
              if (ch == '{') depth += 1
              else if (ch == '}') depth = math.max(0, depth - 1)
              e += 1
            }
            if (e < body.length) (body.substring(k + 1, e), e + 1)
            else (body.substring(k + 1), body.length)
          } else {
            var e = k
            while (e < body.length && body.charAt(e) != ',') e += 1
            (body.substring(k, e).trim, e)
          }
        out(name) = value.trim
        i = next
      }
    }
    out.toMap
  }
}
