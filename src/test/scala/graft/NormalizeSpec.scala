package graft

import graft.extract.{NormImage, Normalize, Normalized}
import graft.md.Markdown
import graft.model.SpanKind
import org.scalatest.funsuite.AnyFunSuite

/** Verifies the dialect normalizers reproduce the reference goldens
  * span-for-span: each golden is inverse-transformed back into the provider's
  * raw dialect (the exact provider marker forms the reference rewrites), run
  * through our normalizer, and compared as `(kind, text, media_ref, order)`
  * span sequences — the BASELINE.json invariant.
  */
class NormalizeSpec extends AnyFunSuite {

  private val MarkerRe = """<!-- docler:page_break \{"next_page":(\d+)\} -->""".r

  private def goldenSpans(provider: String) =
    AmbrGoldens.markdownGoldens.get(provider).map(g => Markdown.parse(g))

  // ----------------------------------------------------------------- azure

  test("azure dialect: PageBreak renumber + figure lift reproduce the golden") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("azure"))
    // inverse transform: drop the leading page-1 marker, turn the rest back
    // into azure's raw `<!-- PageBreak -->`, images back into <figure> blocks
    var raw = MarkerRe.replaceAllIn(golden,
      m => if (m.group(1).toInt == 1) "" else "<!-- PageBreak -->")
    val nImages = """!\[img-\d+\]\(img-\d+\.png\)""".r.findAllIn(raw).length
    raw = """!\[img-\d+\]\(img-\d+\.png\)""".r
      .replaceAllIn(raw, "<figure>\nsome figure caption\n</figure>")
    val figures = (0 until nImages).map(i => NormImage(s"img-$i", s"img-$i.png", "image/png", ""))

    val normalized = Normalize.azure(raw, figures)
    assert(normalized.spans == Markdown.parse(golden))
    assert(normalized.images.map(_.filename) == figures.map(_.filename))
  }

  // ---------------------------------------------------------------- docling

  test("docling dialect: PageBreak renumber + <!-- image --> lift reproduce the golden") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("docling"))
    var raw = MarkerRe.replaceAllIn(golden,
      m => if (m.group(1).toInt == 1) "" else "<!-- PageBreak -->")
    val nImages = """!\[img-\d+\]\(img-\d+\.png\)""".r.findAllIn(raw).length
    raw = """!\[img-\d+\]\(img-\d+\.png\)""".r.replaceAllIn(raw, "<!-- image -->")

    val normalized = Normalize.docling(raw, nImages)
    assert(normalized.spans == Markdown.parse(golden))
  }

  // ---------------------------------------------------------------- datalab

  test("datalab dialect: {N}---- pagination + image rename map reproduce the golden") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("datalab"))
    // markers back to datalab's 0-based `{N}------` form
    var raw = MarkerRe.replaceAllIn(golden,
      m => s"\n\n{${m.group(1).toInt - 1}}------------------------------------------------\n\n")
    // images back to provider-original names with empty alt
    val exts = """!\[img-(\d+)\]\(img-\d+\.(\w+)\)""".r.findAllMatchIn(raw)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    val origNames = (0 until exts.size).map(i => s"_page_${i}_fig.${exts(i)}")
    raw = """!\[img-(\d+)\]\(img-\d+\.(\w+)\)""".r
      .replaceAllIn(raw, m => s"![](_page_${m.group(1)}_fig.${m.group(2)})")

    val normalized = Normalize.datalab(raw, origNames)
    assert(normalized.spans == Markdown.parse(golden))
    assert(normalized.images.map(_.filename) == (0 until exts.size).map(i => s"img-$i.${exts(i)}"))
  }

  // ------------------------------------------------------- mistral (pages)

  test("per-page assembly reproduces the mistral golden from page parts") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("mistral"))
    // inverse: split the golden at its markers into per-page markdown parts
    val parts = MarkerRe.split(golden).map(_.trim).filter(_.nonEmpty).toSeq
    val normalized = Normalize.pages(parts)
    assert(normalized.spans == Markdown.parse(golden))
  }

  test("per-page assembly reproduces the llamaparse golden from page parts") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("llamaparse"))
    val parts = MarkerRe.split(golden).map(_.trim).filter(_.nonEmpty).toSeq
    val normalized = Normalize.pages(parts)
    assert(normalized.spans == Markdown.parse(golden))
  }

  // ---------------------------------------------------------------- upstage

  test("upstage dialect: anchor-based insertion reproduces the golden") {
    assume(AmbrGoldens.available)
    val golden = AmbrGoldens.body(AmbrGoldens.markdownGoldens("upstage"))
    val spans = Markdown.parse(golden)
    // inverse: strip all markers; the anchor for page N is the first text
    // block after its marker
    val raw = MarkerRe.replaceAllIn(golden, "").replaceAll("^\\s+", "")
    val anchors = spans.zipWithIndex.collect {
      case (s, i) if s.kind == SpanKind.PageBreak && Markdown.extractNextPage(s.text) > 1 =>
        val anchor = spans.drop(i + 1).find(_.kind == SpanKind.Text).map(_.text).getOrElse("")
        Markdown.extractNextPage(s.text) -> Seq(anchor)
    }
    val normalized = Normalize.upstage(raw, anchors)
    assert(normalized.spans == spans)
  }

  test("upstage placeholder images are replaced first-come with img-K refs") {
    val raw = "Intro text.\n\n![image](/image/placeholder)\n\nMore.\n\n![image](/image/placeholder)"
    val n = Normalize.upstage(raw, Nil, Seq("image/png", "image/jpeg"))
    val imgs = n.spans.filter(_.kind == SpanKind.Image)
    assert(imgs.map(_.media_ref) == Seq("img-0.png", "img-1.jpeg"))
    assert(n.images.map(_.mime_type) == Seq("image/png", "image/jpeg"))
  }

  // ------------------------------------------------------------ markitdown

  test("slide markers map to page breaks with the slide's own number") {
    val raw = "<!-- Slide number: 1 -->\n# S1\n\n<!-- Slide number: 2 -->\n# S2"
    val spans = Normalize.slides(raw).spans
    assert(spans.map(_.kind) == Seq(
      SpanKind.PageBreak, SpanKind.Text, SpanKind.PageBreak, SpanKind.Text))
    assert(spans.filter(_.kind == SpanKind.PageBreak)
      .map(s => Markdown.extractNextPage(s.text)) == Seq(1, 2))
  }

  // ---------------------------------------------------------- docling-remote

  test("data-URI images are lifted to sidecar img-K refs") {
    val b64 = java.util.Base64.getEncoder.encodeToString("fake".getBytes)
    val raw = s"Text before.\n\n![chart](data:image/png;base64,$b64)\n\n![](data:image/jpeg;base64,$b64)"
    val n = Normalize.dataUriImages(raw)
    assert(n.images.map(_.filename) == Seq("img-0.png", "img-1.jpeg"))
    assert(n.images.head.content_b64 == b64)
    val spans = n.spans
    assert(spans(1) == graft.model.Span(SpanKind.Image, "chart", "img-0.png", 1))
    assert(spans(2) == graft.model.Span(SpanKind.Image, "img-1", "img-1.jpeg", 2))
  }

  test("azure golden page count survives normalization") {
    assume(AmbrGoldens.available)
    for (p <- Seq("azure", "datalab", "mistral", "upstage", "docling", "llamaparse")) {
      val g = AmbrGoldens.markdownGoldens(p)
      val fm = AmbrGoldens.frontmatterField(g, "page_count").map(_.toInt)
      assert(fm.contains(Markdown.pageCount(Markdown.parse(g))), s"provider=$p")
    }
  }

  // ------------------------------------------- linear upstage and datalab

  /** Inputs whose normalized output is pinned: synthetic `md_upstage` and
    * `md_datalab` docs (ordinary and long), upstage anchor edge cases and
    * datalab image names that `extractImageNames` returns, including names
    * holding `](`, `![](` or an `img-` file name after the extension dot.
    */
  private object Pinned {
    private def synthetic(kind: String, long: Boolean): Seq[graft.model.RawDoc] = {
      val idx = if (long) (0L until 400000L by 1000L) else (1L until 3000L).filter(_ % 1000 != 0)
      idx.iterator.filter(i => graft.io.SyntheticDocs.payloadKindFor(i) == kind)
        .take(if (long) 3 else 60).map(i => graft.io.SyntheticDocs.generate(5, i).raw).toSeq
    }
    private def dialect(r: graft.model.RawDoc) = Normalize.dialect(r.payload_kind, r.raw, r.pages)
    private def up(raw: String, anchors: (Int, Seq[String])*) = Normalize.upstage(raw, anchors)
    // no input holds an image named only by dots (`![](.)`): such a name
    // has no extension and fails the whole document, an open fault that is
    // kept out of the pinned digests
    private def dl(raw: String): Normalized = Normalize.dialect("md_datalab", raw, Nil)

    private val fuzzTokens = IndexedSeq("![", "](", ")", "]", "(", "![](", "a", "b.png", "a.", "img-0.png",
      "img-1.b", "c", " ", "\n", "{0}------", "x](y", "data:", "A.PNG", "](c)", "img-")
    private def fuzz(seed: Int, n: Int): Seq[String] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(_ => Seq.fill(rnd.nextInt(40))(fuzzTokens(rnd.nextInt(fuzzTokens.length))).mkString)
    }

    val cases: Seq[(String, () => Seq[Normalized])] = Seq(
      "upstage synthetic" -> (() => synthetic("md_upstage", long = false).map(dialect)),
      "upstage long" -> (() => synthetic("md_upstage", long = true).map(dialect)),
      "upstage missing anchor" -> (() => Seq(
        up("A\n\nB\n\nC", 2 -> Seq("B"), 3 -> Seq("Z"), 4 -> Seq("C")),
        up("A\n\nB", 2 -> Seq("Q"), 3 -> Seq("R")))),
      "upstage repeated anchor" -> (() => Seq(
        up("X\n\nY\n\nX\n\nY\n\nX", 2 -> Seq("X"), 3 -> Seq("X"), 4 -> Seq("Y"), 5 -> Seq("X"), 6 -> Seq("X")),
        up("aaaa", 2 -> Seq("aa"), 3 -> Seq("aa"), 4 -> Seq("aa")),
        up("p\n\nq", 2 -> Seq("b"), 2 -> Seq("q")))),
      "upstage page gaps" -> (() => Seq(
        up("a\n\nb\n\nc\n\nd\n\ne\n\nf", 2 -> Seq("b"), 5 -> Seq("d"), 9 -> Seq("f")),
        up("a\n\nb", 7 -> Seq("b")))),
      "upstage empty anchors" -> (() => Seq(
        up("a\n\nb\n\nc", 2 -> Seq("", "b"), 3 -> Seq(""), 4 -> Seq("", "", "c"), 5 -> Nil),
        up("", 2 -> Seq("")), up("   \n\n  x", 2 -> Seq("x")))),
      "upstage anchors in marker text" -> (() => Seq(
        up("next_page docler -->\n\n<!-- docler", 2 -> Seq("next_page"), 3 -> Seq("docler"), 4 -> Seq("-->")),
        Normalize.upstage("  \n\n![image](/image/placeholder)\n\nA\n\n![image](/image/placeholder) B",
          Seq(2 -> Seq("A"), 3 -> Seq("B")), Seq("image/png", "image/svg+xml")))),
      "datalab synthetic" -> (() => synthetic("md_datalab", long = false).map(dialect)),
      "datalab long" -> (() => synthetic("md_datalab", long = true).map(dialect)),
      "datalab names with ](" -> (() => Seq(
        "![x](a.b](c) ![y](c) ![](c) ![](img-0.b](c)\n![](img-1.c)",
        "![x](a.b![](img-1.png) ![](q.png) ![](img-1.png)",
        "![a](p](q](r.png) ![](q](r.png) ![](r.png) ![b](x.png) ![](x.png)",
        "![](a.png)![](a.png) ![](b.PNG) ![z](img-0.png) ![](data:x) text ](a.png) ](b.PNG)",
        "![]() ![](a.) ![x](a](b](c) ![](c) ![](img-3.c)",
        "{0}------\n\n![](s.png)\n\n{1}------\n\n![t](s.png) ![](img-0.png)").map(dl)),
      "datalab fuzz" -> (() => fuzz(9, 3000).map(dl)))

    def digest(ns: Seq[Normalized]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      ns.foreach { n =>
        md.update(n.content.getBytes("UTF-8")); md.update(0.toByte)
        md.update(n.images.mkString("|").getBytes("UTF-8")); md.update(1.toByte)
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
  }

  test("pinned: upstage and datalab output over synthetic docs and edge cases") {
    // recorded on the tree before the single-scan rewrites; never edit to pass
    val pinned = Map(
      "datalab fuzz" -> "c0ee67925b234dd1",
      "datalab long" -> "d7c1497f68402e5f",
      "datalab names with ](" -> "81fb83c8e8a509e7",
      "datalab synthetic" -> "c671481fa630f606",
      "upstage anchors in marker text" -> "b958323ea3e87c13",
      "upstage empty anchors" -> "2905ce2c69eec183",
      "upstage long" -> "4ab2e3434c9de117",
      "upstage missing anchor" -> "c4d49d8e7df764f4",
      "upstage page gaps" -> "543680fd085d79e5",
      "upstage repeated anchor" -> "b50f13f5935cb299",
      "upstage synthetic" -> "49a473e129453a92")
    val got = Pinned.cases.map { case (name, run) => name -> Pinned.digest(run()) }.toMap
    assert(got == pinned, got.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
  }

  test("a 5,000-page upstage doc inserts its markers in linear time") {
    val pages = (1 to 5000).map(p => s"Page $p opens here. " + ("lorem ipsum dolor sit amet " * 40))
    val raw = pages.mkString("\n\n")
    assert(raw.length > 5000000)
    val anchors = (2 to 5000).map(p => p -> Seq(s"Page $p opens here."))
    val t0 = System.nanoTime()
    val n = Normalize.upstage(raw, anchors)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 2.0, s"$sec s")
    assert(Markdown.pageCount(n.spans) == 5000)
  }

  test("a 5,000-image datalab doc renames its images in linear time") {
    val raw = (0 until 5000).map(i => s"Figure $i text.\n\n![](_page_${i}_figure.png)").mkString("\n\n")
    val t0 = System.nanoTime()
    val n = Normalize.dialect("md_datalab", raw, Nil)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 1.0, s"$sec s")
    assert(n.images.length == 5000)
    assert(n.content.contains("![img-4999](img-4999.png)") && !n.content.contains("_page_"))
  }

  test("a 1 MB datalab image name made of 500,000 `](` is renamed in linear time") {
    val name = "](" * 500000
    val t0 = System.nanoTime()
    val n = Normalize.dialect("md_datalab", s"![]($name)", Nil)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 1.0, s"$sec s")
    // the name has no dot, so all of it is the extension
    assert(n.content == s"![img-0](img-0.$name)")
  }
}
