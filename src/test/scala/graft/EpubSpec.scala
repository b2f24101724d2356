package graft

import graft.extract.EpubExtract
import org.scalatest.funsuite.AnyFunSuite

/** EPUB container walk: spine order, OPF metadata, HtmlExtract per
  * chapter, ingestion routing, failure behavior.
  */
class EpubSpec extends AnyFunSuite {

  private def chapter(n: Int): String =
    s"<html><body><h1>Chapter $n</h1><p>Some real content paragraph number $n " +
      "with enough plain words to satisfy the density classifier here.</p></body></html>"

  test("round-trip: dc:title, spine order (11 chapters), chapter content") {
    val bytes = EpubExtract.buildEpub("The Book", (1 to 11).map(chapter))
    val doc = EpubExtract.extract(bytes)
    assert(doc.title == "The Book")
    assert(doc.chapters.size == 11)
    assert(doc.chapters.zipWithIndex.forall { case (ch, i) =>
      ch.spans.exists(_.text == s"# Chapter ${i + 1}")
    })
  }

  test("toSpans: page break per chapter, re-offset stream") {
    val bytes = EpubExtract.buildEpub("b", Seq(chapter(1), chapter(2)))
    val doc = EpubExtract.extract(bytes)
    val spans = doc.spans
    assert(spans.map(_.offset) == spans.indices)
    assert(spans.count(_.kind == "page_break") == 2)
    assert(spans.map(_.text).containsSlice(
      Seq("""{"next_page":2}""", "# Chapter 2")))
  }

  test("ingestion route: .epub extracts; malformed and DRM-ish are failure rows") {
    val bytes = EpubExtract.buildEpub("Routed Novel", Seq(chapter(1)))
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("shelf/book.epub", bytes))
    assert(out.failure.isEmpty && out.title == "Routed Novel" && out.page_count == 1)
    assert(out.spans.head.text == """{"next_page":1}""")
    val bad = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("x.epub", "not a zip".getBytes))
    assert(bad.failure.startsWith("epub_parse_error"))
    // a zip without container.xml (the DRM/foreign-container shape)
    val o = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(o)
    z.putNextEntry(new java.util.zip.ZipEntry("mimetype"))
    z.write("application/epub+zip".getBytes); z.closeEntry(); z.close()
    assert(graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("y.epub", o.toByteArray))
      .failure.contains("container.xml"))
  }

  test("spine references resolve relative to the OPF directory") {
    val bytes = EpubExtract.buildEpub("t", Seq(chapter(1)))
    assert(EpubExtract.extract(bytes).chapters.size == 1)
  }

  test("chapter images: payloads resolve from the container, global img-K numbering") {
    val pngA = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1)
    val pngB = Array[Byte](0x89.toByte, 'P', 'N', 'G', 2)
    def chWithImg(n: Int): String =
      s"<html><body><h1>Ch $n</h1><p>Enough body words to keep this content paragraph " +
        s"for the density classifier.</p><img src='images/pic$n.png' alt='p$n'/></body></html>"
    val bytes = EpubExtract.buildEpub("Imgs", Seq(chWithImg(1), chWithImg(2)),
      Seq("OEBPS/images/pic1.png" -> pngA, "OEBPS/images/pic2.png" -> pngB))
    val doc = EpubExtract.extract(bytes)
    // GLOBAL numbering: chapter 2's image is img-1, not a second img-0
    assert(doc.media.map(_.media_ref) == Seq("img-0.png", "img-1.png"))
    assert(doc.media(0).content.sameElements(pngA) && doc.media(1).content.sameElements(pngB))
    val imgSpans = doc.spans.filter(_.kind == "image")
    assert(imgSpans.map(s => (s.text, s.media_ref)) ==
      Seq(("img-0", "img-0.png"), ("img-1", "img-1.png")))
    // every image span's media_ref has a sidecar item — no dangling refs
    val refs = doc.media.map(_.media_ref).toSet
    assert(imgSpans.forall(s => refs.contains(s.media_ref)))
    // ingestion carries the sidecar
    val out = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("b.epub", bytes))
    assert(out.media.map(_.media_ref) == Seq("img-0.png", "img-1.png"))
  }

  test("../ hrefs in img src normalize against the chapter directory") {
    val png = Array[Byte](1, 2, 3)
    val ch = "<html><body><p>Enough body words to keep this paragraph for the " +
      "density classifier scoring.</p><img src='../pics/x.png'/></body></html>"
    // chapter lives at OEBPS/ch0.xhtml → ../pics/x.png = pics/x.png at root
    val bytes = EpubExtract.buildEpub("t", Seq(ch), Seq("pics/x.png" -> png))
    val doc = EpubExtract.extract(bytes)
    assert(doc.media.map(_.media_ref) == Seq("img-0.png"))
    assert(doc.media.head.content.sameElements(png))
    // an unresolvable (remote) src keeps a reference-only item (empty bytes)
    val ch2 = "<html><body><p>Enough body words to keep this paragraph for the " +
      "density classifier scoring.</p><img src='http://x/y.png'/></body></html>"
    val doc2 = EpubExtract.extract(EpubExtract.buildEpub("t", Seq(ch2)))
    assert(doc2.media.map(_.media_ref) == Seq("img-0.png"))
    assert(doc2.media.head.content.isEmpty)
  }
}
