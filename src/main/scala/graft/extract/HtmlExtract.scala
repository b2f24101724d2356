package graft.extract

import graft.model.{Span, SpanKind}
import scala.collection.mutable.ArrayBuffer

/** From-scratch HTML main-content extraction: a tag-soup lexer feeding a
  * block segmenter, then a text-density + link-density boilerplate classifier
  * (the DOM-heuristic the north rule asks for; algorithmic lineage is the
  * public Boilerpipe line of work — Kohlschütter et al., WSDM 2010 — not any
  * reference code: docler delegates HTML to external services, e.g.
  * markitdown_provider/provider.py:35-59, so this stage is new).
  *
  * Output mirrors the docler converter span shape: markdown headers,
  * paragraphs, `-` lists, pipe tables, `![img-K](img-K.ext)` image spans.
  * Pure function of the input string — safe inside `Dataset.map`.
  */
object HtmlExtract {

  private val BlockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "br", "article", "section", "header", "footer", "nav",
    "aside", "main", "blockquote", "pre", "td", "th", "thead", "tbody",
    "figure", "figcaption", "hr", "form", "body", "html")

  /** Containers whose entire subtree is site boilerplate by construction. */
  private val BoilerContainers = Set("nav", "footer", "aside", "header", "form")

  private val SkipContent = Set("script", "style", "noscript", "template", "svg", "head")

  /** Tags whose start implicitly closes an open <caption> (HTML5 omitted
    * end-tag rule: caption ends at the first table section/row).
    */
  private val CaptionClosers = Set(
    "tr", "td", "th", "thead", "tbody", "tfoot", "colgroup", "col", "table")

  /** HTML void elements: never pushed onto the open-tag stack (they have no
    * closing tag, so pushing them would corrupt the heading/list context and
    * grow the stack unboundedly on img/br-heavy pages).
    */
  private val VoidTags = Set(
    "img", "br", "hr", "input", "meta", "link", "area", "base", "col",
    "embed", "source", "track", "wbr")

  private final case class Block(
      text: StringBuilder = new StringBuilder,
      var linkChars: Int = 0,
      var headingLevel: Int = 0,
      var isListItem: Boolean = false,
      var isBlockquote: Boolean = false,
      var isPre: Boolean = false,
      var inBoiler: Boolean = false,
      images: ArrayBuffer[(String, String, String)] = ArrayBuffer.empty) { // (alt, srcExt, src)
    def totalChars: Int = text.length
    def linkDensity: Double =
      if (totalChars == 0) if (images.nonEmpty) 0.0 else 1.0
      else linkChars.toDouble / totalChars
  }

  /** @param title the document's <title> text ("" when absent) — the
    *               converter-provided title of the Document assembly
    *               (converters/base.py:208: `result.title or path.stem`)
    */
  /** `imageSrcs(k)` = the original `src` attribute of `images(k)` —
    * container-aware callers (EPUB) resolve payload bytes through it. */
  final case class Extracted(spans: Seq[Span], images: Seq[NormImage], title: String = "",
      imageSrcs: Seq[String] = Nil)

  /** Extract main-content spans from an HTML document. Deterministic. */
  def extract(html: String): Extracted = {
    val (blocks, title) = segment(html)
    val kept = classify(blocks)
    toSpans(kept, title)
  }

  // ------------------------------------------------------------- lexer+segmenter

  private def segment(html: String): (IndexedSeq[Block], String) = {
    val blocks = ArrayBuffer.empty[Block]
    var cur = new Block
    // open tags; closing one below the top leaves a null there (trimmed
    // once it surfaces), and `openAt` holds each name's open positions,
    // so neither a close nor a context check scans the stack
    val tagStack = ArrayBuffer.empty[String]
    val openAt = scala.collection.mutable.HashMap.empty[String, List[Int]].withDefaultValue(Nil)
    var linkDepth = 0
    var boilerDepth = 0
    var skipDepth = 0
    var tableDepth = 0
    val tableRows = ArrayBuffer.empty[ArrayBuffer[String]]
    var cellBuf = new StringBuilder
    var inCell = false
    // <caption> is table-internal text outside any cell — a real-page case
    // that must surface as its own text block, not vanish
    var captionBuf = new StringBuilder
    var inCaption = false
    var tableCaption = ""
    // <title> lives inside <head> (SkipContent) — captured independently of
    // the skip state so the Document assembly can use it as the title.
    // Only the FIRST document title counts; <svg><title> (accessibility
    // labels, ubiquitous inline-icon markup) is excluded via svgDepth.
    val titleBuf = new StringBuilder
    var inTitle = false
    var titleDone = false
    var svgDepth = 0

    def flush(): Unit = {
      val trimmed = cur.text.toString.trim
      if (trimmed.nonEmpty || cur.images.nonEmpty) {
        // pre blocks keep their internal whitespace verbatim
        val body = if (cur.isPre) trimmed else collapseWs(trimmed)
        val b = new Block(new StringBuilder(body), cur.linkChars,
          cur.headingLevel, cur.isListItem, cur.isBlockquote, cur.isPre,
          cur.inBoiler || boilerDepth > 0, cur.images)
        blocks += b
      }
      cur = new Block
      cur.inBoiler = boilerDepth > 0
      if (tagStack.lastOption.exists(t => t.length == 2 && t(0) == 'h' && t(1).isDigit))
        cur.headingLevel = tagStack.last(1) - '0'
      if (openAt("li").nonEmpty) cur.isListItem = true
      if (openAt("blockquote").nonEmpty) cur.isBlockquote = true
      if (openAt("pre").nonEmpty) cur.isPre = true
    }

    def emitTable(): Unit = {
      flush()
      if (tableCaption.nonEmpty) {
        val b = new Block(new StringBuilder(tableCaption))
        b.inBoiler = boilerDepth > 0
        blocks += b
        tableCaption = ""
      }
      val rows = tableRows.filter(_.exists(_.nonEmpty))
      if (rows.nonEmpty) {
        val width = rows.map(_.length).max
        val norm = rows.map(r => r.padTo(width, "").toSeq)
        val md = new StringBuilder
        md ++= norm.head.mkString("| ", " | ", " |")
        md += '\n'
        md ++= Seq.fill(width)("---").mkString("| ", " | ", " |")
        norm.tail.foreach { r => md += '\n'; md ++= r.mkString("| ", " | ", " |") }
        val b = new Block(new StringBuilder(md.toString))
        b.inBoiler = boilerDepth > 0
        blocks += b
      }
      tableRows.clear()
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val end = html.indexOf('>', i + 1)
          if (end < 0) { i = n }
          else {
            val inner = html.substring(i + 1, end).trim
            val closing = inner.startsWith("/")
            val nameEnd0 = inner.drop(if (closing) 1 else 0)
            val name = nameEnd0.takeWhile(ch => ch.isLetterOrDigit).toLowerCase
            if (name.nonEmpty) {
              // a real document title contains no markup: any tag other than
              // </title> while capturing means the <title> was never closed —
              // stop capturing instead of swallowing the whole body
              if (inTitle && name != "title") { inTitle = false; titleDone = true }
              if (name == "svg") {
                if (!closing && !inner.endsWith("/")) svgDepth += 1
                else if (closing && svgDepth > 0) svgDepth -= 1
              }
              if (name == "title") {
                if (closing) { if (inTitle) titleDone = true; inTitle = false }
                else inTitle = !inner.endsWith("/") && !titleDone && svgDepth == 0
              } else if (SkipContent.contains(name)) {
                if (!closing && !inner.endsWith("/")) skipDepth += 1
                else if (closing && skipDepth > 0) skipDepth -= 1
              } else if (skipDepth == 0) {
                if (!closing) {
                  // HTML5 allows omitting </caption>: it closes implicitly
                  // when a table section/row starts (inline markup inside
                  // the caption does NOT close it)
                  if (inCaption && CaptionClosers.contains(name)) {
                    tableCaption = collapseWs(captionBuf.toString.trim)
                    inCaption = false
                  }
                  name match {
                    case "a" => linkDepth += 1
                    case "img" =>
                      val src = attr(inner, "src").getOrElse("")
                      val alt = attr(inner, "alt").getOrElse("")
                      val ext = src.split('?').head.split('.').lastOption
                        .filter(e => e.length <= 4 && e.forall(_.isLetterOrDigit))
                        .getOrElse("png").toLowerCase
                      if (inCell) () // images inside table cells dropped
                      else cur.images += ((alt, ext, src))
                    case "table" =>
                      if (tableDepth == 0) flush()
                      tableDepth += 1
                    case "tr" if tableDepth > 0 => tableRows += ArrayBuffer.empty[String]
                    case "td" | "th" if tableDepth > 0 =>
                      inCell = true; cellBuf = new StringBuilder
                    case "caption" if tableDepth > 0 =>
                      inCaption = true; captionBuf = new StringBuilder
                    case t if BoilerContainers.contains(t) =>
                      flush(); boilerDepth += 1; cur.inBoiler = true
                    case t if BlockTags.contains(t) =>
                      flush()
                      // flags for the tag being opened: it is not yet on the
                      // stack when flush() derives context from tagStack
                      if (t.length == 2 && t(0) == 'h' && t(1).isDigit)
                        cur.headingLevel = t(1) - '0'
                      if (t == "li") cur.isListItem = true
                      if (t == "blockquote") cur.isBlockquote = true
                      if (t == "pre") cur.isPre = true
                    case _ => ()
                  }
                  if (!inner.endsWith("/") && !VoidTags.contains(name)) {
                    openAt(name) = tagStack.length :: openAt(name)
                    tagStack += name
                  }
                } else {
                  // pop BEFORE flushing: flush() derives the NEW block's
                  // context (heading/list/pre/blockquote) from the stack, and
                  // text after </pre> must not inherit the closed tag's flag
                  openAt(name) match {
                    case idx :: below =>
                      openAt(name) = below
                      tagStack(idx) = null
                      while (tagStack.nonEmpty && tagStack.last == null) tagStack.remove(tagStack.length - 1)
                    case Nil => ()
                  }
                  name match {
                    case "a" => linkDepth = math.max(0, linkDepth - 1)
                    case "table" if tableDepth > 0 =>
                      if (inCaption) { // unclosed <caption> ends with its table
                        tableCaption = collapseWs(captionBuf.toString.trim)
                        inCaption = false
                      }
                      tableDepth -= 1
                      if (tableDepth == 0) emitTable()
                    case "td" | "th" if tableDepth > 0 =>
                      if (inCell) {
                        if (tableRows.isEmpty) tableRows += ArrayBuffer.empty[String]
                        tableRows.last += collapseWs(cellBuf.toString.trim).replace("|", "\\|")
                        inCell = false
                      }
                    case "caption" if inCaption =>
                      tableCaption = collapseWs(captionBuf.toString.trim)
                      inCaption = false
                    case t if BoilerContainers.contains(t) =>
                      flush(); boilerDepth = math.max(0, boilerDepth - 1)
                      cur.inBoiler = boilerDepth > 0
                    case t if BlockTags.contains(t) => flush()
                    case _ => ()
                  }
                }
              }
            }
            i = end + 1
          }
        }
      } else {
        val next = html.indexOf('<', i)
        val stop = if (next < 0) n else next
        if (inTitle) {
          titleBuf ++= decodeEntities(html.substring(i, stop))
        } else if (skipDepth == 0 && tableDepth == 0) {
          val txt = decodeEntities(html.substring(i, stop))
          cur.text ++= txt
          if (linkDepth > 0) cur.linkChars += txt.count(!_.isWhitespace)
        } else if (skipDepth == 0 && inCell) {
          cellBuf ++= decodeEntities(html.substring(i, stop))
        } else if (skipDepth == 0 && inCaption) {
          captionBuf ++= decodeEntities(html.substring(i, stop))
        }
        i = stop
      }
    }
    flush()
    (blocks.toIndexedSeq, collapseWs(titleBuf.toString.trim))
  }

  // --------------------------------------------------------------- classifier

  /** Boilerplate classifier: a block is dropped when it lives in a boilerplate
    * container, or its link density is high, or it is a short low-content
    * fragment. Headings survive on structure, not length.
    */
  private def classify(blocks: IndexedSeq[Block]): IndexedSeq[Block] =
    blocks.filter { b =>
      if (b.inBoiler) false
      else if (b.headingLevel > 0) b.linkDensity <= 0.5
      else if (b.images.nonEmpty && b.totalChars == 0) true
      else if (b.linkDensity > 0.5) false
      else if (b.linkDensity > 0.33 && b.totalChars < 80) false
      else if (b.totalChars < 8 && !b.isListItem && !b.isPre) false
      else true
    }

  // ------------------------------------------------------------------ emitter

  private def toSpans(blocks: IndexedSeq[Block], title: String): Extracted = {
    val spans = ArrayBuffer.empty[Span]
    val images = ArrayBuffer.empty[NormImage]
    val imageSrcs = ArrayBuffer.empty[String]
    blocks.foreach { b =>
      val txt = b.text.toString
      if (txt.nonEmpty) {
        val md =
          if (b.headingLevel > 0) ("#" * b.headingLevel) + " " + txt
          else if (b.isPre) "```\n" + txt + "\n```"
          else if (b.isBlockquote) txt.linesIterator.map("> " + _).mkString("\n")
          else if (b.isListItem) "- " + txt
          else txt
        spans += Span(SpanKind.Text, md, "", spans.length)
      }
      b.images.foreach { case (_, ext, src) =>
        val id = s"img-${images.length}"
        val filename = s"$id.$ext"
        images += NormImage(id, filename, s"image/$ext", "")
        imageSrcs += src
        spans += Span(SpanKind.Image, id, filename, spans.length)
      }
    }
    Extracted(spans.toSeq, images.toSeq, title, imageSrcs.toSeq)
  }

  // -------------------------------------------------------------------- utils

  // precompiled: String.replaceAll / ad-hoc .r would recompile per call on
  // the per-block / per-tag hot path (measured ~25% of extraction time)
  private val attrPatterns = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private def attr(tagInner: String, name: String): Option[String] = {
    val p = attrPatterns.computeIfAbsent(name, n =>
      java.util.regex.Pattern.compile(
        """(?i)\b""" + n + """\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))"""))
    val m = p.matcher(tagInner)
    if (!m.find()) None
    else Some(Option(m.group(2)).orElse(Option(m.group(3))).getOrElse(m.group(4)))
  }

  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  private def collapseWs(s: String): String = {
    // fast path: already collapsed (common for short text runs); any
    // non-space whitespace (\n \t \r \f  …) or a double space bails
    var i = 0
    var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      if ((c != ' ' && Character.isWhitespace(c)) ||
          (c == ' ' && i + 1 < s.length && s.charAt(i + 1) == ' '))
        needs = true
      i += 1
    }
    if (!needs) s.trim else WsRun.matcher(s).replaceAll(" ").trim
  }

  private def decodeEntities(s: String): String =
    if (s.indexOf('&') < 0) s // fast path: no entities
    else s.replace("&nbsp;", " ")
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&")
}
