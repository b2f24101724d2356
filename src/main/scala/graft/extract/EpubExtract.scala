package graft.extract

import java.nio.charset.StandardCharsets
import javax.xml.stream.XMLStreamConstants
import scala.collection.mutable.ArrayBuffer

/** EPUB extraction from raw bytes — the reference routes
  * `application/epub+zip` through MarkItDown
  * (markitdown_provider/provider.py:44); here the OCF container is walked
  * directly: META-INF/container.xml names the OPF package, the OPF
  * manifest+spine give the reading order, and each XHTML chapter runs
  * through the existing [[HtmlExtract]] boilerplate-strip pipeline. One
  * page per spine document, chapter spans re-offset into a single stream
  * with GLOBAL img-K renumbering; chapter image payloads resolve from the
  * container (chapter-relative hrefs, `../` normalized) into the media
  * sidecar; the dc:title metadata supplies the document title.
  *
  * Out of scope (documented): fixed-layout rendition properties and
  * encrypted (DRM) containers — those surface as failure rows. O(bytes)
  * per document.
  */
object EpubExtract {

  import DocxExtract.{readZip, reader, attr, writeZip, normalizePath}

  /** `spans` carry GLOBAL img-K numbering (chapter-local ids are rewritten
    * in encounter order across the whole book); `media` has one item per
    * image span — payload bytes resolved from the container when the img
    * src names a zip entry (relative to its chapter, `../` normalized),
    * empty bytes when it points outside (remote/HTTP images keep the
    * reference-only MediaItem shape the model documents).
    */
  final case class EpubDoc(
      title: String,
      chapters: Seq[HtmlExtract.Extracted],
      spans: Seq[graft.model.Span],
      media: Seq[graft.model.MediaItem])

  def extract(bytes: Array[Byte]): EpubDoc = {
    val entries = readZip(bytes)
    val container = entries.getOrElse("META-INF/container.xml",
      throw new IllegalStateException("no META-INF/container.xml"))
    val opfPath = rootfileOf(container)
    val opf = entries.getOrElse(opfPath,
      throw new IllegalStateException(s"missing OPF $opfPath"))
    val opfDir = {
      val i = opfPath.lastIndexOf('/')
      if (i >= 0) opfPath.substring(0, i + 1) else ""
    }
    val (title, manifest, spine) = parseOpf(opf)
    val chapterPairs: Seq[(String, HtmlExtract.Extracted)] =
      spine.flatMap(manifest.get).flatMap { href =>
        val path = normalizePath(opfDir + href)
        entries.get(path).map { xhtml =>
          path -> HtmlExtract.extract(new String(xhtml, StandardCharsets.UTF_8))
        }
      }
    if (chapterPairs.isEmpty) throw new IllegalStateException("empty spine")

    import graft.model.{MediaItem, Span, SpanKind}
    val spans = ArrayBuffer[Span]()
    val media = ArrayBuffer[MediaItem]()
    chapterPairs.zipWithIndex.foreach { case ((path, ch), i) =>
      val chapterDir = {
        val j = path.lastIndexOf('/')
        if (j >= 0) path.substring(0, j + 1) else ""
      }
      // chapter-local img-K → global img-K, payload from the container
      val rename: Map[String, String] = ch.images.zipWithIndex.map { case (im, k) =>
        val ext = im.filename.substring(im.filename.lastIndexOf('.') + 1)
        val global = s"img-${media.length + k}.$ext"
        im.filename -> global
      }.toMap
      ch.images.zip(ch.imageSrcs).foreach { case (im, src) =>
        val payload = entries.getOrElse(normalizePath(chapterDir + src), Array.emptyByteArray)
        media += MediaItem(rename(im.filename), im.mime_type, payload)
      }
      spans += graft.md.Markdown.pageBreakSpan(i + 1, spans.length)
      ch.spans.filterNot(_.kind == SpanKind.PageBreak).foreach { sp =>
        if (sp.kind == SpanKind.Image) {
          val global = rename.getOrElse(sp.media_ref, sp.media_ref)
          val id = global.substring(0, global.lastIndexOf('.'))
          spans += Span(sp.kind, id, global, spans.length)
        } else spans += Span(sp.kind, sp.text, sp.media_ref, spans.length)
      }
    }
    EpubDoc(title, chapterPairs.map(_._2), spans.toSeq, media.toSeq)
  }

  private def rootfileOf(xml: Array[Byte]): String = {
    val r = reader(xml)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "rootfile") {
          val p = attr(r, "full-path")
          if (p.nonEmpty) return p
        }
      }
      throw new IllegalStateException("no rootfile in container.xml")
    } finally r.close()
  }

  /** (dc:title, manifest id→href, spine idrefs in order). */
  private def parseOpf(xml: Array[Byte]): (String, Map[String, String], Seq[String]) = {
    val r = reader(xml)
    var title = ""
    val manifest = Map.newBuilder[String, String]
    val spine = ArrayBuffer[String]()
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) {
          r.getLocalName match {
            case "title" => if (title.isEmpty) title = r.getElementText.trim
            case "item" => manifest += attr(r, "id") -> attr(r, "href")
            case "itemref" =>
              val idref = attr(r, "idref")
              if (idref.nonEmpty) spine += idref
            case _ => ()
          }
        }
      }
    } finally r.close()
    (title, manifest.result(), spine.toSeq)
  }

  // ------------------------------------------------------------ writer
  /** Deterministic EPUB writer — the encode side of the q_epub round-trip:
    * container.xml → content.opf (manifest + spine) → one XHTML file per
    * chapter.
    */
  def buildEpub(title: String, chapters: Seq[String]): Array[Byte] =
    buildEpub(title, chapters, Nil)

  /** `extraEntries` = additional container parts (e.g. `OEBPS/images/x.png`
    * payload bytes referenced by chapter `<img src="images/x.png">`).
    */
  def buildEpub(title: String, chapters: Seq[String],
      extraEntries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val container =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container"><rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles></container>""".stripMargin
    val opf =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<package xmlns="http://www.idpf.org/2007/opf" version="3.0"><metadata xmlns:dc="http://purl.org/dc/elements/1.1/"><dc:title>${Bin.xmlText(title)}</dc:title></metadata><manifest>${
        chapters.indices.map(i =>
          s"""<item id="ch$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""").mkString
      }</manifest><spine>${
        chapters.indices.map(i => s"""<itemref idref="ch$i"/>""").mkString
      }</spine></package>""".stripMargin
    writeZip((Seq(
      "mimetype" -> "application/epub+zip",
      "META-INF/container.xml" -> container,
      "OEBPS/content.opf" -> opf) ++
      chapters.zipWithIndex.map { case (html, i) => s"OEBPS/ch$i.xhtml" -> html })
      .map { case (n, c) => n -> c.getBytes(StandardCharsets.UTF_8) } ++ extraEntries)
  }
}
