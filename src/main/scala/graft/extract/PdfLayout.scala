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
    // info-dictionary rows (info_title/info_author) are metadata only: they
    // contribute no page and no span
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
}
