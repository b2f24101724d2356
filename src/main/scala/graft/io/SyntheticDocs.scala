package graft.io

import graft.extract.NormImage
import graft.md.Markdown
import graft.model._

/** Deterministic synthetic interleaved-document generator.
  *
  * Every doc is a pure function of (seed, docIndex) via splitmix64 — no
  * sequential RNG state — so generation is parallel-safe and identical at any
  * partitioning (the determinism-under-parallelism requirement, SURVEY §7.4).
  *
  * For each doc it produces BOTH the raw provider-shaped payload (HTML page,
  * positioned PDF elements, or dialect markdown) AND the expected canonical
  * span stream, so the pipeline can be verified span-for-span end-to-end at
  * any scale. A skew cluster (every 1000th doc has ~40× the pages) plants the
  * long-document skew the partitioning strategy must defeat.
  */
object SyntheticDocs {

  /** Canonical corpus parameters — the SINGLE source of truth shared by the
    * batch path (SparkEntry.rawDocs), the streaming path (q_stream_extract),
    * Bench's staged corpus, and Verify/ExpectedTables' generator-truth
    * oracle tables. Changing either here changes ALL of them together;
    * divergence would only surface as a red driver gate.
    */
  val CorpusSeed = 42L
  def corpusSize(documentsCount: Long): Long = documentsCount * 4

  final case class GenDoc(raw: RawDoc, expected: Seq[Span])

  private val Words: IndexedSeq[String] =
    ("lorem ipsum dolor sit amet consectetur adipiscing elit nunc faucibus odio " +
      "vestibulum neque massa scelerisque ligula congue molestie praesent varius " +
      "nullam porttitor arcu lacinia nisi dolor vitae interdum condimentum vivamus " +
      "dapibus sodales malesuada cursus convallis maecenas egestas condimentum orci " +
      "mauris diam felis vulputate suscipit iaculis curabitur semper luctus blandit " +
      "integer ante libero lobortis imperdiet mollis accumsan vehicula justo tristique " +
      "fringilla morbi tortor risus auctor ullamcorper tellus tempus lectus purus " +
      "mattis dictum placerat facilisi aenean aliquam erat volutpat").split(' ').toIndexedSeq

  // -------------------------------------------------------------- rng core

  /** splitmix64 finalizer (Steele et al., OOPSLA 2014, public domain): the
    * generator's only source of randomness, so changing it changes every
    * synthetic corpus.
    */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class DocRng(seed: Long) {
    private var state = seed
    def nextLong(): Long = { state = splitmix64(state); state }
    def nextInt(bound: Int): Int = {
      val v = (nextLong() >>> 1) % bound
      v.toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private def sentence(rng: DocRng, nWords: Int): String = {
    val ws = (0 until nWords).map(_ => Words(rng.nextInt(Words.length)))
    ws.head.capitalize + ws.tail.mkString(" ", " ", "") + "."
  }

  private def paragraph(rng: DocRng): String =
    (0 until 1 + rng.nextInt(3)).map(_ => sentence(rng, 6 + rng.nextInt(18))).mkString(" ")

  // ----------------------------------------------------------- doc synthesis

  val PayloadKinds: Seq[String] =
    Seq("html", "pdf_layout", "md_azure", "md_datalab", "md_slides", "md_pages",
      "md_upstage", "md_docling", "md_datauri")

  def payloadKindFor(docIndex: Long): String = {
    val h = splitmix64(docIndex * 31 + 7)
    val r = math.abs(h % 100)
    if (r < 28) "html"
    else if (r < 56) "pdf_layout"
    else if (r < 66) "md_azure"
    else if (r < 76) "md_datalab"
    else if (r < 81) "md_slides"
    else if (r < 88) "md_pages"
    else if (r < 92) "md_upstage"
    else if (r < 96) "md_docling"
    else "md_datauri"
  }

  /** Pages per doc: Zipf-ish (mostly 1-3) with a planted long-doc skew
    * cluster at every 1000th index.
    */
  def pagesFor(docIndex: Long, rng: DocRng): Int = {
    val base = 1 + (math.pow(rng.nextDouble(), 2.5) * 6).toInt
    if (docIndex % 1000 == 0) base * 40 else base
  }

  def generate(seed: Long, docIndex: Long): GenDoc = {
    val rng = new DocRng(splitmix64(seed ^ (docIndex * 0x9e3779b97f4a7c15L)))
    val docId = f"doc-$docIndex%012d"
    val kind = payloadKindFor(docIndex)
    val nPages = pagesFor(docIndex, rng)
    kind match {
      case "html" => genHtml(docId, rng)
      case "pdf_layout" => genPdf(docId, nPages, rng)
      case "md_azure" => genAzure(docId, nPages, rng)
      case "md_datalab" => genDatalab(docId, nPages, rng)
      case "md_slides" => genSlides(docId, nPages, rng)
      case "md_pages" => genPages(docId, nPages, rng)
      case "md_upstage" => genUpstage(docId, nPages, rng)
      case "md_docling" => genDocling(docId, nPages, rng)
      case "md_datauri" => genDataUri(docId, rng)
    }
  }

  /** Canonical multi-page span stream: the ground truth the dialects dirty. */
  private def canonicalSpans(nPages: Int, rng: DocRng, withImages: Boolean): Seq[Span] = {
    var imgCount = 0
    val out = Seq.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, ref: String = ""): Unit = {
      out += Span(kind, text, ref, off); off += 1
    }
    (1 to nPages).foreach { p =>
      add(SpanKind.PageBreak, s"""{"next_page":$p}""")
      if (p == 1) add(SpanKind.Text, s"# ${sentence(rng, 4).stripSuffix(".")}")
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        add(SpanKind.Text, paragraph(rng))
        if (withImages && rng.nextInt(100) < 12) {
          val id = s"img-$imgCount"
          add(SpanKind.Image, id, s"$id.png")
          imgCount += 1
        }
      }
    }
    out.result()
  }

  private def genAzure(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = true)
    // inverse transform: canonical → azure raw (PageBreak markers, figures)
    val raw = spans.map {
      case s if s.kind == SpanKind.PageBreak =>
        if (Markdown.extractNextPage(s.text) == 1) "" else "<!-- PageBreak -->"
      case s if s.kind == SpanKind.Image => s"<figure>fig ${s.text}</figure>"
      case s => s.text
    }.filter(_.nonEmpty).mkString("\n\n")
    GenDoc(RawDoc(docId, "md_azure", "application/pdf", raw, Nil, Nil), spans)
  }

  private def genDatalab(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = true)
    var img = -1
    val raw = spans.map {
      case s if s.kind == SpanKind.PageBreak =>
        s"{${Markdown.extractNextPage(s.text) - 1}}------------------------------------------------"
      case s if s.kind == SpanKind.Image =>
        img += 1; s"![](_page_${img}_figure.png)"
      case s => s.text
    }.mkString("\n\n") + "\n\n"
    GenDoc(RawDoc(docId, "md_datalab", "application/pdf", raw, Nil, Nil), spans)
  }

  private def genSlides(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = false)
    val raw = spans.map {
      case s if s.kind == SpanKind.PageBreak =>
        s"<!-- Slide number: ${Markdown.extractNextPage(s.text)} -->"
      case s => s.text
    }.mkString("\n\n")
    GenDoc(RawDoc(docId, "md_slides", "application/vnd.ms-powerpoint", raw, Nil, Nil), spans)
  }

  private def genPages(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = false)
    // split canonical stream into per-page markdown parts
    val parts = Seq.newBuilder[String]
    var cur = Seq.newBuilder[String]
    var open = false
    spans.foreach {
      case s if s.kind == SpanKind.PageBreak =>
        if (open) parts += cur.result().mkString("\n\n")
        cur = Seq.newBuilder[String]; open = true
      case s => cur += s.text
    }
    if (open) parts += cur.result().mkString("\n\n")
    GenDoc(RawDoc(docId, "md_pages", "application/pdf", "", parts.result(), Nil), spans)
  }

  private def genUpstage(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = true)
    // raw flat markdown: no page markers, images as upstage placeholders
    val raw = spans.collect {
      case s if s.kind == SpanKind.Image => "![image](/image/placeholder)"
      case s if s.kind == SpanKind.Text => s.text
    }.mkString("\n\n")
    // anchors: first text block of each page ≥ 2 (generator guarantees each
    // page opens with a text block)
    val anchors = Seq.newBuilder[String]
    var page = 0
    var want = false
    spans.foreach {
      case s if s.kind == SpanKind.PageBreak =>
        page = Markdown.extractNextPage(s.text); want = page >= 2
      case s if want && s.kind == SpanKind.Text =>
        anchors += s.text; want = false
      case _ => ()
    }
    GenDoc(RawDoc(docId, "md_upstage", "application/pdf", raw, anchors.result(), Nil), spans)
  }

  private def genDocling(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val spans = canonicalSpans(nPages, rng, withImages = true)
    // inverse transform: canonical → docling raw (<!-- PageBreak --> markers
    // from page 2 on — the renumber stage prepends page 1 — and <!-- image -->
    // placeholders, docling_provider/provider.py:143-166)
    val raw = spans.map {
      case s if s.kind == SpanKind.PageBreak =>
        if (Markdown.extractNextPage(s.text) == 1) "" else "<!-- PageBreak -->"
      case s if s.kind == SpanKind.Image => "<!-- image -->"
      case s => s.text
    }.filter(_.nonEmpty).mkString("\n\n")
    GenDoc(RawDoc(docId, "md_docling", "application/pdf", raw, Nil, Nil), spans)
  }

  private def genDataUri(docId: String, rng: DocRng): GenDoc = {
    val body = paragraph(rng)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      s"$docId-image-bytes".getBytes("UTF-8"))
    val raw = s"$body\n\n![diagram](data:image/png;base64,$b64)\n\n${paragraph(rng)}"
    val n = graft.extract.Normalize.dataUriImages(raw)
    GenDoc(RawDoc(docId, "md_datauri", "text/markdown", raw, Nil, Nil), n.spans)
  }

  private def genHtml(docId: String, rng: DocRng): GenDoc = {
    val title = sentence(rng, 4).stripSuffix(".")
    val paras = (0 until 2 + rng.nextInt(4)).map(_ => paragraph(rng))
    val bullets = (0 until 2 + rng.nextInt(3)).map(_ => sentence(rng, 5 + rng.nextInt(6)))
    val hasImage = rng.nextInt(100) < 30
    val nav = (1 to 4).map(i => s"""<a href="/$i">${Words(rng.nextInt(Words.length))}</a>""").mkString(" ")
    val html = new StringBuilder
    html ++= s"<html><head><title>$docId</title><script>var page=1;</script></head><body>"
    html ++= s"<nav>$nav</nav><header><a href='/'>home</a> <a href='/x'>other</a></header>"
    html ++= s"<article><h1>$title</h1>"
    paras.zipWithIndex.foreach { case (p, i) =>
      html ++= s"<p>$p</p>"
      if (hasImage && i == 0) html ++= s"""<img src="fig_$docId.png" alt="figure">"""
    }
    html ++= "<ul>" + bullets.map(b => s"<li>$b</li>").mkString + "</ul>"
    html ++= s"</article><footer>$nav</footer></body></html>"

    val expected = Seq.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, ref: String = ""): Unit = {
      expected += Span(kind, text, ref, off); off += 1
    }
    add(SpanKind.Text, s"# $title")
    paras.zipWithIndex.foreach { case (p, i) =>
      add(SpanKind.Text, p)
      if (hasImage && i == 0) add(SpanKind.Image, "img-0", "img-0.png")
    }
    bullets.foreach(b => add(SpanKind.Text, s"- $b"))
    GenDoc(RawDoc(docId, "html", "text/html", html.toString, Nil, Nil), expected.result())
  }

  private def genPdf(docId: String, nPages: Int, rng: DocRng): GenDoc = {
    val elements = Seq.newBuilder[PdfElement]
    val expected = Seq.newBuilder[Span]
    var off = 0
    var imgCount = 0
    def add(kind: String, text: String, ref: String = ""): Unit = {
      expected += Span(kind, text, ref, off); off += 1
    }
    (1 to nPages).foreach { p =>
      add(SpanKind.PageBreak, s"""{"next_page":$p}""")
      val twoCol = rng.nextInt(100) < 40
      var y = 40.0
      if (p == 1) {
        val t = s"# ${sentence(rng, 4).stripSuffix(".")}"
        elements += PdfElement(p, 40, y, 520, 24, "text", t)
        add(SpanKind.Text, t)
        y += 40
      }
      val nBlocks = 2 + rng.nextInt(3)
      if (twoCol) {
        // left column fully read before right column
        val rightStart = y
        val lefts = (0 until nBlocks).map { _ =>
          val t = paragraph(rng); val h = 40 + rng.nextInt(40)
          val e = PdfElement(p, 40, y, 240, h, "text", t); y += h + 10; e
        }
        var ry = rightStart
        val rights = (0 until nBlocks).map { _ =>
          val t = paragraph(rng); val h = 40 + rng.nextInt(40)
          val e = PdfElement(p, 320, ry, 240, h, "text", t); ry += h + 10; e
        }
        (lefts ++ rights).foreach { e => add(SpanKind.Text, e.text) }
        // shuffle element emission order deterministically to prove the sort
        val all = lefts ++ rights
        val perm = all.indices.sortBy(i => splitmix64(rng.nextLong() + i))
        perm.foreach(i => elements += all(i))
      } else {
        (0 until nBlocks).foreach { _ =>
          if (rng.nextInt(100) < 12) {
            val e = PdfElement(p, 40, y, 520, 120, "image", "")
            elements += e
            add(SpanKind.Image, s"img-$imgCount", s"img-$imgCount.png")
            imgCount += 1
            y += 130
          } else {
            val t = paragraph(rng)
            val h = 30 + rng.nextInt(30)
            elements += PdfElement(p, 40, y, 520, h, "text", t)
            add(SpanKind.Text, t)
            y += h + 10
          }
        }
      }
    }
    GenDoc(RawDoc(docId, "pdf_layout", "application/pdf", "", Nil, elements.result()), expected.result())
  }
}
