package graft.extract

import graft.md.Markdown
import graft.model.{PdfElement, Span, SpanKind}
import scala.collection.mutable.ArrayBuffer

/** From-scratch PDF page-layout assembly: positioned page elements → reading
  * order (column detection, top-to-bottom then left-to-right) → canonical span
  * stream with page-break markers and image/table placeholders.
  *
  * Matches the *output shape* of docler's local-ML PDF converters
  * (docling_provider/provider.py:117-168, marker_provider/provider.py:37-126):
  * a leading page-1 marker, one page-break marker per page, `img-K`
  * refs in encounter order. Real PDF byte parsing would need PDFBox (not in
  * the jar set); the synthetic input table carries pre-tokenized elements, and
  * this stage supplies the geometry→order logic those converters outsource to
  * their ML models. Pure function — safe inside `Dataset.map`.
  */
object PdfLayout {

  final case class LaidOut(spans: Seq[Span], images: Seq[NormImage])

  def layout(elements: Seq[PdfElement]): LaidOut = {
    val spans = ArrayBuffer.empty[Span]
    val images = ArrayBuffer.empty[NormImage]
    // info-dictionary rows (info_title/info_author — see pageMetadata) are
    // metadata only: they contribute no page, no span, no dimensions
    val byPage = elements.filterNot(_.kind.startsWith("info_"))
      .groupBy(_.page).toSeq.sortBy(_._1)
    if (byPage.isEmpty) return LaidOut(Nil, Nil)

    byPage.foreach { case (page, elems) =>
      spans += Markdown.pageBreakSpan(page, spans.length)
      ordered(elems).foreach { e =>
        e.kind match {
          case "image" =>
            val id = s"img-${images.length}"
            val filename = s"$id.png"
            images += NormImage(id, filename, "image/png", "")
            spans += Span(SpanKind.Image, id, filename, spans.length)
          case "table" =>
            spans += Span(SpanKind.Text, e.text, "", spans.length)
          case _ =>
            if (e.text.nonEmpty) spans += Span(SpanKind.Text, e.text, "", spans.length)
        }
      }
    }
    LaidOut(spans.toSeq, images.toSeq)
  }

  /** Reading order for one page. Full-width elements (≥60% of the page's
    * content width — titles, banner figures) act as vertical section
    * separators; between them, column bands are detected by merging the
    * remaining elements' horizontal extents (a gutter = a gap between merged
    * bands), then order is bands left→right, top→bottom within a band.
    */
  def ordered(elems: Seq[PdfElement]): Seq[PdfElement] = {
    if (elems.size <= 1) return elems
    val minX = elems.map(_.x).min
    val maxX = elems.map(e => e.x + e.w).max
    val pageWidth = math.max(1.0, maxX - minX)
    val (full, columnar) = elems.partition(_.w >= 0.6 * pageWidth)

    // vertical sections delimited by full-width elements
    val separatorYs = full.map(_.y).sorted
    def sectionOf(y: Double): Int = separatorYs.count(_ <= y)
    val bySection: Map[Int, Seq[PdfElement]] =
      columnar.groupBy(e => sectionOf(e.y))
    // a separator heads the section it opens: sectionOf counts itself, so its
    // own section index equals that of the elements below it
    val fullBySection: Map[Int, Seq[PdfElement]] =
      full.groupBy(e => sectionOf(e.y))

    (0 to separatorYs.length).flatMap { sec =>
      val heads = fullBySection.getOrElse(sec, Nil).sortBy(e => (e.y, e.x))
      val body = bySection.getOrElse(sec, Nil)
      heads ++ orderColumns(body)
    }
  }

  /** Column-band ordering for elements within one vertical section. */
  private def orderColumns(elems: Seq[PdfElement]): Seq[PdfElement] = {
    if (elems.size <= 1) return elems.sortBy(e => (lineBucket(e.y), e.x))
    val intervals = elems.map(e => (e.x, e.x + e.w)).sortBy(_._1)
    val bands = ArrayBuffer.empty[(Double, Double)]
    intervals.foreach { case (lo, hi) =>
      if (bands.nonEmpty && lo <= bands.last._2 + 1.0) {
        val (blo, bhi) = bands.last
        bands(bands.length - 1) = (blo, math.max(bhi, hi))
      } else bands += ((lo, hi))
    }
    def bandOf(e: PdfElement): Int = {
      val cx = e.x + e.w / 2
      val i = bands.indexWhere { case (lo, hi) => cx >= lo && cx <= hi }
      if (i >= 0) i else 0
    }
    if (bands.length <= 1) elems.sortBy(e => (lineBucket(e.y), e.x))
    else
      elems.groupBy(bandOf).toSeq.sortBy(_._1)
        .flatMap { case (_, es) => es.sortBy(e => (lineBucket(e.y), e.x)) }
  }

  /** Quantize top-y into fixed 4pt line buckets so jittered baselines of runs
    * on one visual line still group together and sort left→right.
    */
  private def lineBucket(y: Double): Double = math.floor(y / 4.0) * 4.0

  /** Per-page dimensions in points (width, height from element extents). */
  final case class PageDims(page: Int, width: Double, height: Double)

  /** Page metadata from positioned elements — the `get_pdf_info` analog
    * (pdf_utils.py:187-256): page count + per-page dims + title + author.
    *
    * The PDF info dictionary (`reader.metadata.title/author`,
    * pdf_utils.py:236-239) has a direct element-model analog: rows of kind
    * `info_title` / `info_author` carry the dictionary values when the
    * source had them — they are metadata-only (skipped by [[layout]] and by
    * the dimension scan). Like the reference, `title` prefers the info
    * dictionary; absent that it falls back to the first-page leading heading
    * (what marker/docling surface as the doc title when the dictionary is
    * empty). `author` comes ONLY from the info row — there is no content
    * heuristic for authorship, and the reference has none either.
    * Encryption remains the one documented no-analog (`is_encrypted =
    * false`): it lives in the PDF byte trailer, and this engine does no
    * PDF-byte parsing.
    */
  final case class PageMeta(
      page_count: Int,
      is_encrypted: Boolean,
      page_dimensions: Seq[PageDims],
      title: String = "",
      author: String = "")

  def pageMetadata(elements: Seq[PdfElement]): PageMeta = {
    val (info, content) = elements.partition(_.kind.startsWith("info_"))
    def infoVal(key: String): String =
      info.collectFirst { case e if e.kind == s"info_$key" => e.text }.getOrElse("")
    val dims = content.groupBy(_.page).toSeq.sortBy(_._1).map { case (p, es) =>
      PageDims(p, es.map(e => e.x + e.w).max, es.map(e => e.y + e.h).max)
    }
    // heading fallback: FIRST page only — a chapter heading deep in the doc
    // is not a document title
    val firstPage = if (content.isEmpty) 0 else content.map(_.page).min
    val headingTitle = content
      .filter(e => e.page == firstPage && e.kind == "text" && e.text.startsWith("# "))
      .sortBy(e => (e.y, e.x)).headOption
      .map(_.text.stripPrefix("# ")).getOrElse("")
    val title = { val t = infoVal("title"); if (t.nonEmpty) t else headingTitle }
    PageMeta(dims.length, is_encrypted = false, dims,
      title = title, author = infoVal("author"))
  }
}
