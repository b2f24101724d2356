package graft.extract

import graft.md.Markdown
import graft.model.{Span, SpanKind}
import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** A lifted sidecar image produced during normalization (docler `Image`;
  * payload stays base64 so the case class is encoder-friendly).
  */
final case class NormImage(id: String, filename: String, mime_type: String, content_b64: String)

final case class Normalized(content: String, images: Seq[NormImage]) {
  def spans: Seq[Span] = Markdown.parse(content)
}

/** Provider-dialect normalization: every docler converter rewrites its
  * provider-specific page-break/image markers into ONE canonical grammar.
  * These are from-scratch reimplementations of those normalization semantics
  * (not ports of the surrounding service plumbing).
  *
  * Dialects covered (reference evidence per method):
  *   - azure/docling   `<!-- PageBreak -->` stateful renumber + leading page-1
  *   - datalab/marker  `{N}------` pagination markers, +1 renumber
  *   - markitdown      `<!-- Slide number: N -->`
  *   - mistral/llamaparse  per-page parts joined with markers
  *   - upstage         anchor-based insertion + placeholder image replacement
  *   - docling-remote  base64 data-URI images lifted to sidecar refs
  */
object Normalize {

  // ---------------------------------------------------------------- azure
  /** `<!-- PageBreak -->` → renumbered canonical markers starting at page 2,
    * with a leading page-1 marker (azure_provider/utils.py:45-56); then
    * `<figure>…</figure>` blocks replaced positionally by image refs
    * (azure_provider/utils.py:22-30).
    */
  private val PageBreakMarkerRe: Regex = """<!--\s*PageBreak\s*-->""".r
  private val FigureRe: Regex = "(?s)<figure>(.*?)</figure>".r

  def azure(content: String, figureImages: Seq[NormImage] = Nil): Normalized = {
    val withBreaks = renumberMarkers(content, PageBreakMarkerRe, newlineSeparators = 1)
    if (!withBreaks.contains("<figure>")) return Normalized(withBreaks, Nil)
    var i = 0
    val replaced = FigureRe.replaceAllIn(withBreaks, m => {
      val out =
        if (i < figureImages.length) {
          val img = figureImages(i)
          Regex.quoteReplacement(Markdown.createImageReference(img.id, img.filename))
        } else Regex.quoteReplacement(m.matched)
      i += 1
      out
    })
    Normalized(replaced, figureImages.take(i))
  }

  // --------------------------------------------------------------- docling
  /** docling: `<!-- PageBreak -->` renumber + leading page-1 marker
    * (docling_provider/provider.py:143-153), then `<!-- image -->` placeholders
    * replaced sequentially by `![img-i](img-i.png)` (provider.py:155-166).
    */
  def docling(content: String, imageCount: Int): Normalized = {
    var md = renumberMarkers(content, PageBreakMarkerRe, newlineSeparators = 1)
    val images = ArrayBuffer.empty[NormImage]
    var i = 0
    var from = 0
    val placeholder = "<!-- image -->"
    val sb = new java.lang.StringBuilder
    while (i < imageCount && md.indexOf(placeholder, from) >= 0) {
      val at = md.indexOf(placeholder, from)
      val id = s"img-$i"
      val filename = s"$id.png"
      sb.append(md, from, at).append(Markdown.createImageReference(id, filename))
      from = at + placeholder.length
      images += NormImage(id, filename, "image/png", "")
      i += 1
    }
    if (from > 0) { sb.append(md, from, md.length); md = sb.toString }
    Normalized(md, images.toSeq)
  }

  /** Shared azure/docling stateful renumber: every raw marker becomes page
    * 2, 3, …; a page-1 marker (lstripped) is prepended.
    */
  private def renumberMarkers(content: String, markerRe: Regex, newlineSeparators: Int): String = {
    val first = Markdown.createPageBreak(1, newlineSeparators).dropWhile(_ == '\n')
    if (!content.contains("PageBreak")) return first + content
    var page = 1
    val replaced = markerRe.replaceAllIn(content, _ => {
      page += 1
      Regex.quoteReplacement(Markdown.createPageBreak(page, newlineSeparators))
    })
    first + replaced
  }

  // --------------------------------------------------------------- datalab
  /** Is `line` a datalab pagination marker (`{N}-----`, reference form
    * datalab_provider/utils.py:95)? Returns the page index or -1. Hand-rolled:
    * the equivalent lookbehind regex costs 33 µs/doc from `\s*` backtracking
    * at every position.
    */
  private def datalabMarkerPage(line: String): Int = {
    var i = 0
    val n = line.length
    while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1
    if (i >= n || line.charAt(i) != '{') return -1
    i += 1
    var page = 0
    var digits = 0
    while (i < n && line.charAt(i).isDigit) { page = page * 10 + (line.charAt(i) - '0'); i += 1; digits += 1 }
    if (digits == 0 || i >= n || line.charAt(i) != '}') return -1
    i += 1
    while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1
    var dashes = 0
    while (i < n && line.charAt(i) == '-') { i += 1; dashes += 1 }
    while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1
    if (dashes >= 1 && i == n) page else -1
  }

  /** Page index of a REWRITABLE datalab marker at `lines(i)` (the marker
    * line AND blank-delimited), or -1 — the ONE predicate shared by
    * detection ([[hasDatalabMarkers]]) and rewriting
    * ([[rewriteDatalabBreaks]]) so the two can never drift.
    */
  private def rewritableMarkerAt(lines: Array[String], i: Int): Int = {
    val page = datalabMarkerPage(lines(i))
    if (page < 0) return -1
    val prevBlank = i == 0 || lines(i - 1).trim.isEmpty
    val nextBlank = i == lines.length - 1 || lines(i + 1).trim.isEmpty
    if (prevBlank && nextBlank) page else -1
  }

  /** Does `content` contain at least one rewritable datalab pagination
    * marker? The ingestion dialect detector uses this so near-miss content
    * is not misrouted into the datalab passes.
    */
  def hasDatalabMarkers(content: String): Boolean = {
    if (content.indexOf('{') < 0) return false
    val lines = content.split("\n", -1)
    lines.indices.exists(i => rewritableMarkerAt(lines, i) >= 0)
  }

  /** Rewrite `{N}----` marker lines (blank-line-delimited or at the edges)
    * into canonical page breaks — line-scanner equivalent of the reference's
    * regex, but it also handles consecutive markers (empty pages) and a
    * trailing marker, which the consuming pattern drops.
    */
  private def rewriteDatalabBreaks(content: String): String = {
    if (content.indexOf('{') < 0) return content
    val lines = content.split("\n", -1)
    val out = new java.lang.StringBuilder(content.length + 64)
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val page = rewritableMarkerAt(lines, i)
      if (page >= 0)
        out.append(Markdown.createPageBreak(page + 1, newlineSeparators = 2))
      else out.append(line)
      if (i < lines.length - 1) out.append('\n')
      i += 1
    }
    out.toString
  }

  /** DataLab/marker `{N}------` pagination (0-based N, emitted as page N+1;
    * datalab_provider/utils.py:95-108) + image rename-map 3-pass rewrite
    * (utils.py:24-57,114-131). `originalImageNames` are the provider's
    * original file names in first-seen order — distinct, none holding a `)`,
    * as [[extractImageNames]] returns them — and are renamed to
    * `img-K.<ext>`.
    */
  private val MdImageRe: Regex = """!\[(.*?)\]\((.*?)\)""".r

  def datalab(content: String, originalImageNames: Seq[String]): Normalized = {
    val md = rewriteDatalabBreaks(content)
    // like the reference (datalab_provider/utils.py:127-131), the image
    // normalization passes run only when the response carried images
    if (originalImageNames.isEmpty) return Normalized(md, Nil)
    val names = originalImageNames.toIndexedSeq
    require(names.distinct.length == names.length && !names.exists(_.contains(')')),
      "datalab image names must be distinct and hold no `)`")
    val images = names.indices.map { i =>
      // the text after the last dot (all of a dotless name), as Python's
      // `name.split(".")[-1]`: `a.`, `.` and `..` have an empty extension
      val ext = names(i).substring(names(i).lastIndexOf('.') + 1).toLowerCase
      val id = s"img-$i"
      NormImage(id, s"$id.$ext", s"image/$ext", "")
    }
    // pass 1: replace file paths inside markdown links
    val linked = replaceEach(md, "](", names, j => "](" + images(j).filename)
    // pass 2: fix alt texts to proper ids — the first rename whose new or
    // original name is the link target
    val renameOf = new java.util.HashMap[String, NormImage]
    names.indices.foreach { i =>
      renameOf.putIfAbsent(images(i).filename, images(i))
      renameOf.putIfAbsent(names(i), images(i))
    }
    val aliased = MdImageRe.replaceAllIn(linked, m => {
      val file = m.group(2)
      val hit = renameOf.get(file)
      Regex.quoteReplacement(Markdown.createImageReference(if (hit == null) m.group(1) else hit.id, file))
    })
    // pass 3: any remaining empty-alt refs
    Normalized(replaceEach(aliased, "![](", images.map(_.filename),
      j => Markdown.createImageReference(images(j).id, images(j).filename).dropRight(1)), images)
  }

  /** `keys.indices.foldLeft(md)((s, j) => s.replace(lead + keys(j) + ")", to(j) + ")"))`
    * in one scan, for distinct keys none of which holds a `)`. Neither `lead`
    * nor any key holds a `)`, so every match ends at a `)` and lies after the
    * `)` before it, and a replacement keeps that one `)`. Each `)`-closed
    * segment is therefore rewritten on its own: by the lowest-numbered key
    * it ends with, then by the lowest-numbered later key the result ends
    * with, and so on — the order the sequential replaces apply, including
    * when a name holds `](` and a replacement ends in another name. A
    * segment is tried only at the key lengths it can hold, and rewritten in
    * place at the end of the output, so each try costs one lead compare plus,
    * where the lead is there, one lookup of that length.
    */
  private def replaceEach(md: String, lead: String, keys: IndexedSeq[String], to: Int => String): String = {
    val index = new java.util.HashMap[String, Integer]
    keys.indices.foreach(j => index.put(keys(j), j))
    val lengths = keys.map(_.length).distinct.sorted.toArray
    val out = new java.lang.StringBuilder(md.length + 16 * keys.length)
    def leadAt(q: Int): Boolean = {
      var k = 0
      while (k < lead.length && out.charAt(q + k) == lead.charAt(k)) k += 1
      k == lead.length
    }
    var from = 0
    var close = md.indexOf(')')
    while (close >= 0) {
      val start = out.length
      out.append(md, from, close)
      var next = 0
      var best = 0
      while (best >= 0) {
        best = -1
        var bestAt = -1
        var i = 0
        while (i < lengths.length && out.length - lengths(i) - lead.length >= start) {
          val q = out.length - lengths(i) - lead.length
          if (leadAt(q)) {
            val j = index.get(out.substring(q + lead.length))
            if (j != null && j >= next && (best < 0 || j < best)) { best = j; bestAt = q }
          }
          i += 1
        }
        if (best >= 0) { out.setLength(bestAt); out.append(to(best)); next = best + 1 }
      }
      out.append(')')
      from = close + 1
      close = md.indexOf(')', from)
    }
    out.append(md, from, md.length).toString
  }

  // ------------------------------------------------------------ markitdown
  private val SlideRe: Regex = """<!-- Slide number:\s*(\d+)\s*-->""".r

  /** markitdown: `<!-- Slide number: N -->` → page-break with the slide's own
    * number (markitdown_provider/provider.py:103-112; unparseable numbers → 1;
    * no forced leading marker, matching the reference).
    */
  def slides(content: String): Normalized = {
    val md = SlideRe.replaceAllIn(content, m => {
      val n = try m.group(1).toInt catch { case _: NumberFormatException => 1 }
      Regex.quoteReplacement(Markdown.createPageBreak(n))
    })
    Normalized(md, Nil)
  }

  // ---------------------------------------------------- mistral/llamaparse
  /** Per-page markdown parts → single stream with page-break markers; first
    * page always gets a marker (mistral_provider/provider.py:122-135; parts
    * joined with blank lines).
    */
  def pages(parts: Seq[String]): Normalized = {
    if (parts.isEmpty) return Normalized("", Nil)
    val out = ArrayBuffer.empty[String]
    out += Markdown.createPageBreak(1, newlineSeparators = 1).replaceAll("^\\n+", "")
    out += parts.head.replaceAll("^\\s+", "")
    parts.zipWithIndex.drop(1).foreach { case (p, i) =>
      out += Markdown.createPageBreak(i + 1, newlineSeparators = 1)
      out += p.replaceAll("^\\s+", "")
    }
    Normalized(out.mkString("\n\n"), Nil)
  }

  // ---------------------------------------------------------------- upstage
  /** Upstage anchor-based page-break insertion: elements grouped by page and
    * sorted by id; the first non-empty element markdown of each page ≥2 is the
    * anchor; the marker is inserted before its first occurrence after a moving
    * offset (upstage_provider/provider.py:156-193). Placeholder images
    * `![image](/image/placeholder)` are replaced first-come by `img-K` refs
    * (provider.py:195-240).
    */
  def upstage(
      initialMarkdown: String,
      elementsByPage: Seq[(Int, Seq[String])], // (page, element markdowns sorted by id)
      imageMimes: Seq[String] = Nil): Normalized = {
    val firstMarker = Markdown.createPageBreak(1, newlineSeparators = 1).replaceAll("^\\n+", "")
    val src = firstMarker + initialMarkdown.replaceAll("^\\s+", "")
    // every marker goes in before the search offset, so searching the source
    // from the last anchor's end finds what searching the marked-up text
    // would, and the output is appended once
    val out = new java.lang.StringBuilder(src.length + 64 * elementsByPage.size)
    var copied = 0 // src(0 until copied) is in `out`
    var insertionOffset = firstMarker.length
    elementsByPage.toMap.toSeq.filter(_._1 >= 2).sortBy(_._1).foreach { case (pageNum, elems) =>
      elems.find(_.nonEmpty).foreach { anchor =>
        val idx = src.indexOf(anchor, insertionOffset)
        if (idx >= 0) {
          out.append(src, copied, idx).append(Markdown.createPageBreak(pageNum, newlineSeparators = 1))
          copied = idx
          insertionOffset = idx + anchor.length
        }
      }
    }
    var md = out.append(src, copied, src.length).toString
    // single-pass placeholder replacement (a replaceFirst loop would rescan
    // and recopy the document per image)
    val images = ArrayBuffer.empty[NormImage]
    val placeholder = "![image](/image/placeholder)"
    if (imageMimes.nonEmpty && md.contains(placeholder)) {
      val sb = new java.lang.StringBuilder(md.length + 32)
      var from = 0
      var k = 0
      var at = md.indexOf(placeholder)
      while (at >= 0 && k < imageMimes.length) {
        val mime = imageMimes(k)
        val id = s"img-$k"
        val ext = mime.split('/').last.split('\\' + "+").head
        val filename = s"$id.$ext"
        sb.append(md, from, at).append(Markdown.createImageReference(id, filename))
        images += NormImage(id, filename, mime, "")
        from = at + placeholder.length
        k += 1
        at = md.indexOf(placeholder, from)
      }
      sb.append(md, from, md.length)
      md = sb.toString
    }
    Normalized(md.trim, images.toSeq)
  }

  // ---------------------------------------------------------- docling-remote
  private val DataUriRe: Regex = """!\[([^\]]*)\]\(data:image/([^;]+);base64,([^)]+)\)""".r

  /** Lift base64 data-URI images to sidecar refs
    * (docling_remote_provider/utils.py:12-36).
    */
  def dataUriImages(content: String): Normalized = {
    val images = ArrayBuffer.empty[NormImage]
    val md = DataUriRe.replaceAllIn(content, m => {
      val alt = m.group(1)
      val imgType = m.group(2)
      val data = m.group(3)
      val id = s"img-${images.length}"
      val filename = s"$id.$imgType"
      images += NormImage(id, filename, s"image/$imgType", data)
      val label = if (alt.nonEmpty) alt else id
      Regex.quoteReplacement(Markdown.createImageReference(label, filename))
    })
    Normalized(md, images.toSeq)
  }

  /** Dispatch by payload kind — the Spark-side router (mirrors docler's
    * ConverterRegistry MIME dispatch, converters/registry.py:58-132).
    */
  def dialect(payloadKind: String, raw: String, pagesIn: Seq[String]): Normalized =
    payloadKind match {
      case "md_azure" =>
        // figure bytes come from the service in the reference
        // (azure_provider/provider.py:107-134); in-table payloads carry the
        // blocks inline, so synthesize one img-K.png sidecar per block
        val nFigs = "(?s)<figure>.*?</figure>".r.findAllIn(raw).length
        azure(raw, (0 until nFigs).map(i => NormImage(s"img-$i", s"img-$i.png", "image/png", "")))
      case "md_datalab" => datalab(raw, extractImageNames(raw))
      case "md_slides" => slides(raw)
      case "md_datauri" => dataUriImages(raw)
      case "md_pages" => pages(pagesIn)
      case "md_docling" => docling(raw, countImagePlaceholders(raw))
      case "md_plain" =>
        // already-canonical (or marker-free) markdown: no rewriting needed —
        // the ingestion path's fallback dialect
        Normalized(raw, Nil)
      case "md_upstage" =>
        // table form of the upstage payload: `raw` is the flat markdown,
        // pagesIn(i) is page (i+2)'s anchor (its first non-empty element
        // markdown, upstage_provider/provider.py:172-178); placeholder
        // images are countable from the content
        val anchors = pagesIn.zipWithIndex.map { case (a, i) => (i + 2, Seq(a)) }
        val nImgs = countOccurrences(raw, "![image](/image/placeholder)")
        upstage(raw, anchors, Seq.fill(nImgs)("image/png"))
      case other => throw new IllegalArgumentException(s"unknown dialect: $other")
    }

  private val AnyImageRe = """!\[(?:.*?)\]\((.*?)\)""".r

  /** First-seen-order original image names in a datalab-style payload. */
  def extractImageNames(content: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    AnyImageRe.findAllMatchIn(content).foreach { m =>
      val f = m.group(1)
      if (!f.startsWith("img-") && !f.startsWith("data:")) seen += f
    }
    seen.toSeq
  }

  def countImagePlaceholders(content: String): Int =
    countOccurrences(content, "<!-- image -->")

  private def countOccurrences(content: String, needle: String): Int = {
    var n = 0
    var i = content.indexOf(needle)
    while (i >= 0) { n += 1; i = content.indexOf(needle, i + needle.length) }
    n
  }
}
