package graft.extract

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** PDF text-CONTENT extraction from raw bytes — the content-real slice the
  * reference pays external ML services for (marker_provider/provider.py:37-126,
  * docling_provider/provider.py:30-168): a from-scratch content-stream
  * interpreter over the [[PdfBytes]] container parser, built from the public
  * PDF 32000-1:2008 spec (§8.4 graphics state, §9.4 text objects, §9.6-9.7
  * fonts, §9.10 ToUnicode), NOT a port of any PDF library.
  *
  * Covered: BT/ET text objects; Tj/TJ/'/" show operators with kerning-gap
  * word splits; Td/TD/Tm/T-star/TL positioning; Tc/Tw/Tz/Ts state; q/Q/cm
  * graphics stack; Flate + predictor filters (via PdfBytes); encrypted
  * documents (streams decrypt under per-object keys); simple-font decode via
  * /ToUnicode CMaps (bfchar + bfrange), /Encoding (WinAnsi / MacRoman /
  * Standard, /Differences with glyph-name + uniXXXX resolution); composite
  * Type0/Identity-H fonts (2-byte codes, /W CID widths); form XObjects
  * (recursed with their /Matrix); image XObjects and inline images surfaced
  * as positioned placeholders for the layout stage.
  *
  * Embedded-font decode (round 5): simple fonts whose codes miss both
  * /ToUnicode and /Encoding resolve through the embedded font program —
  * /FontFile2 TrueType cmap/post ([[TrueType]]), /FontFile3 CFF/Type1C
  * encoding→charset→SID ([[Cff]]), /FontFile original-Type1 cleartext
  * encoding ([[Type1]]) — before the ASCII fallback. Out of scope
  * (documented, error-or-skip, never faked): CID font-program decode for
  * Type0 (their /ToUnicode or Identity ordering covers practice),
  * JBIG2/DCT content filters, vertical writing mode.
  *
  * Line assembly contract (mirrored EXACTLY by the independent second
  * implementation `tools/pdf_text_oracle.py`, which establishes the golden
  * expectations for the reference's real fixture PDFs):
  *   1. a run = one show operator's decoded text at its device-space start
  *      point, with its advance width;
  *   2. runs group into lines by baseline: same line iff |y - lineY| <= 2.0;
  *   3. within a line (sorted by x), a gap > 0.3×size inserts one space and
  *      a gap > 2.0×size starts a NEW segment (column split); runs of 2+
  *      spaces (justified setting) collapse to one;
  *   4. segments sort top-to-bottom (y desc), then left-to-right; empty /
  *      whitespace-only segments drop.
  * This is O(file bytes + glyphs) per document — a bounded per-row kernel
  * safe inside `mapPartitions` at 100 TB like the rest of the PDF family.
  * Every stream it reads comes decrypted and de-filtered from the
  * [[PdfBytes.Doc]] that [[PdfBytes.open]] returned.
  */
object PdfText {

  import PdfBytes._

  /** One assembled line segment in device space (y axis UP, PDF points). */
  final case class Line(x: Double, y: Double, width: Double, size: Double, text: String)
  /** A positioned image occurrence. `data` carries the REAL payload when
    * the stream is byte-extractable: /DCTDecode passthrough (the decrypted
    * payload IS the JPEG), /JPXDecode passthrough (JPEG 2000), or a
    * Flate/LZW 8-bit DeviceRGB/DeviceGray raster re-encoded as PNG via
    * javax.imageio. Other color spaces/filters keep the positioned
    * placeholder with empty data. CCITT G4 (/K < 0) bilevel scans decode
    * via [[CcittG4]] → PNG; the remaining placeholder-only bounds are
    * JBIG2 and G3 (K >= 0), documented in CcittG4's scaladoc.
    */
  final case class ImageRef(
      x: Double, y: Double, name: String,
      width: Int = 0, height: Int = 0, mime: String = "",
      data: Array[Byte] = Array.emptyByteArray)
  final case class PageContent(
      page: Int,
      width: Double,
      height: Double,
      lines: Seq[Line],
      images: Seq[ImageRef])

  /** Full-document text extraction; Left on parse failure / locked files
    * (same error-channel contract as [[PdfBytes.pdfInfo]]).
    */
  def extract(data: Array[Byte], password: Option[String] = None): Either[String, Seq[PageContent]] =
    try open(data, password) match {
      case Left(locked) => Left(encryptedError(locked))
      case Right(doc) =>
        val render = renderer(doc)
        val pages = ArrayBuffer[PageContent]()
        doc.foreachPage((_, page) => pages += render(page, pages.length + 1))
        Right(pages.toSeq)
    } catch {
      case e: Exception => Left(textError(e))
    }

  /** The content of an opened document's page dicts, in order (the
    * list [[PdfBytes.info]] walked); Left as [[extract]].
    */
  private[extract] def contents(doc: Doc, pages: Seq[Map[String, PObj]]): Either[String, Seq[PageContent]] =
    try {
      val render = renderer(doc)
      Right(pages.zipWithIndex.map { case (page, i) => render(page, i + 1) })
    } catch {
      case e: Exception => Left(textError(e))
    }

  private def textError(e: Exception): String = "pdf_text_error: " + Formats.describe(e)

  /** Renders pages of `doc` by (page dict, 1-based number), sharing one
    * font cache and one image cache across them.
    */
  private def renderer(doc: Doc): (Map[String, PObj], Int) => PageContent = {
    val fontCache = mutable.Map[Int, Font]()
    val imageCache = mutable.Map[Int, ImageRef]()
    (page, pageNo) => renderPage(doc, page, pageNo, fontCache, imageCache)
  }

  /** Page text in reading order, lines joined with \n — the `page_text`
    * convenience the driver row and ingestion use.
    */
  def pageTexts(data: Array[Byte], password: Option[String] = None): Either[String, Seq[String]] =
    extract(data, password).map(_.map(_.lines.map(_.text).mkString("\n")))

  // ------------------------------------------------------------ font model
  /** Decoded font: code → text + advance widths (glyph space, /1000).
    * Decode chain: /ToUnicode → /Encoding map → embedded TrueType program
    * ([[TrueType]]: cmap → glyph → inverse-Unicode-cmap | post name → AGL)
    * → ASCII identity → Latin-1 tail → U+FFFD.
    */
  private final case class Font(
      twoByte: Boolean,
      toUnicode: Map[Int, String],
      encoding: Map[Int, String],
      widths: Map[Int, Double],
      defaultWidth: Double,
      embedded: Option[Int => Option[String]] = None) {
    def decode(code: Int): String =
      toUnicode.getOrElse(code, encoding.getOrElse(code,
        embedded.flatMap(e => if (twoByte) None else e(code)).getOrElse(
          if (!twoByte && code >= 32 && code < 127) code.toChar.toString
          else if (!twoByte && code >= 161 && code <= 255) code.toChar.toString // Latin-1≈WinAnsi tail
          else "�")))
    def width(code: Int): Double = widths.getOrElse(code, defaultWidth)
  }

  private def loadFont(doc: Doc, ref: PObj, cache: mutable.Map[Int, Font]): Font = {
    val key = ref match { case PRef(n, _) => n; case _ => -1 }
    if (key >= 0 && cache.contains(key)) return cache(key)
    val f = parseFont(doc, doc.dict(ref))
    if (key >= 0) cache(key) = f
    f
  }

  private def parseFont(doc: Doc, m: Map[String, PObj]): Font = {
    val subtype = doc.resolve(m.getOrElse("Subtype", PNull)) match {
      case PName(n) => n
      case _ => ""
    }
    val toUni: Map[Int, String] = m.get("ToUnicode").flatMap(doc.decodedStream)
      .map(parseToUnicode).getOrElse(Map.empty)
    if (subtype == "Type0") {
      // composite font: Identity-H ⇒ 2-byte codes = CIDs; widths from the
      // descendant's /W runs, default /DW 1000
      val desc = doc.resolve(m.getOrElse("DescendantFonts", PNull)) match {
        case PArr(items) if items.nonEmpty => doc.dict(items.head)
        case _ => Map.empty[String, PObj]
      }
      val dw = desc.get("DW").map(doc.resolve(_)) match {
        case Some(PNum(v)) => v
        case _ => 1000.0
      }
      val widths = mutable.Map[Int, Double]()
      doc.resolve(desc.getOrElse("W", PNull)) match {
        case PArr(items) =>
          var i = 0
          val vs = items.map(doc.resolve(_))
          while (i < vs.length) {
            (vs(i), if (i + 1 < vs.length) vs(i + 1) else PNull) match {
              case (PNum(c), PArr(ws)) => // c [w1 w2 ...]
                ws.map(doc.resolve(_)).zipWithIndex.foreach {
                  case (PNum(w), j) => widths(c.toInt + j) = w
                  case _ => ()
                }
                i += 2
              case (PNum(c1), PNum(c2)) if i + 2 < vs.length => // c1 c2 w
                doc.resolve(vs(i + 2)) match {
                  case PNum(w) => (c1.toInt to c2.toInt).foreach(widths(_) = w)
                  case _ => ()
                }
                i += 3
              case _ => i += 1
            }
          }
        case _ => ()
      }
      Font(twoByte = true, toUni, Map.empty, widths.toMap, dw)
    } else {
      // simple font: 1-byte codes; /Encoding base + /Differences, /Widths
      val fontDescEarly = m.get("FontDescriptor").map(doc.dict)
      val hasFontProgram = fontDescEarly.exists(fd =>
        fd.contains("FontFile2") || fd.contains("FontFile3") || fd.contains("FontFile"))
      val encoding: Map[Int, String] = doc.resolve(m.getOrElse("Encoding", PNull)) match {
        case PName(n) => Encodings.base(n)
        case PDict(em) =>
          val base = em.get("BaseEncoding").map(doc.resolve(_)) match {
            case Some(PName(n)) => Encodings.base(n)
            case _ => Map.empty[Int, String]
          }
          val diffs = mutable.Map[Int, String]()
          doc.resolve(em.getOrElse("Differences", PNull)) match {
            case PArr(items) =>
              var code = 0
              items.map(doc.resolve(_)).foreach {
                case PNum(v) => code = v.toInt
                case PName(g) =>
                  // an unresolvable name (subsetter-private g5/gid00007):
                  // with an embedded font program, leave the slot EMPTY so
                  // the program's own tables resolve the code; without one
                  // there is nothing downstream that can — keep the honest
                  // U+FFFD instead of letting the raw-byte fallback decode
                  // a REMAPPED code as its (wrong) Latin value
                  val ch = Encodings.glyphChar(g)
                  if (ch != "�") diffs(code) = ch
                  else if (!hasFontProgram) diffs(code) = ch
                  code += 1
                case _ => ()
              }
            case _ => ()
          }
          base ++ diffs
        case _ => Map.empty
      }
      val first = doc.resolve(m.getOrElse("FirstChar", PNum(0))) match {
        case PNum(v) => v.toInt
        case _ => 0
      }
      val widths = doc.resolve(m.getOrElse("Widths", PNull)) match {
        case PArr(items) =>
          items.map(doc.resolve(_)).zipWithIndex.collect {
            case (PNum(w), i) => (first + i) -> w
          }.toMap
        case _ => Map.empty[Int, Double]
      }
      val fontDesc = fontDescEarly
      val missing = fontDesc
        .flatMap(_.get("MissingWidth").map(doc.resolve(_))) match {
        case Some(PNum(v)) => v
        case _ => 500.0
      }
      // subsetted-font fallback: /FontFile2 (a TrueType program) carries
      // its own cmap/post, /FontFile3 (a CFF/Type1C program) its own
      // encoding/charset/strings, /FontFile (original Type1) its cleartext
      // /Encoding — the only decode routes for codes absent from both
      // /ToUnicode and /Encoding (wild-PDF subsetters drop both)
      val embedded: Option[Int => Option[String]] =
        fontDesc.flatMap(_.get("FontFile2")).flatMap(doc.decodedStream)
          .flatMap(TrueType.parse).map(e => (c: Int) => e.decode(c))
          .orElse(fontDesc.flatMap(_.get("FontFile3")).flatMap(doc.decodedStream)
            .flatMap(Cff.parse).map(e => (c: Int) => e.decode(c)))
          .orElse(fontDesc.flatMap(_.get("FontFile")).flatMap(doc.decodedStream)
            .flatMap(Type1.parse).map(e => (c: Int) => e.decode(c)))
      Font(twoByte = false, toUni, encoding, widths, missing, embedded)
    }
  }

  /** ToUnicode CMap (§9.10.3): bfchar/bfrange sections over hex strings. */
  private[graft] def parseToUnicode(bytes: Array[Byte]): Map[Int, String] = {
    val p = new Parser(bytes, 0)
    val out = mutable.Map[Int, String]()
    def codeOf(s: PStr): Int = s.bytes.foldLeft(0)((a, b) => (a << 8) | (b & 0xff))
    def textOf(s: PStr): String = new String(s.bytes, StandardCharsets.UTF_16BE)
    var mode = 0 // 0 none, 1 bfchar, 2 bfrange
    while (p.pos < p.d.length) {
      p.skipWs()
      if (p.pos >= p.d.length) return out.toMap
      p.peek match {
        case '<' if p.d.length > p.pos + 1 && p.d(p.pos + 1) != '<' =>
          val src = p.hexString()
          if (mode == 1) {
            p.skipWs()
            if (p.peek == '<') out(codeOf(src)) = textOf(p.hexString())
          } else if (mode == 2) {
            p.skipWs()
            val hiS = if (p.peek == '<') p.hexString() else PStr(Array.emptyByteArray)
            p.skipWs()
            val lo = codeOf(src); val hi = codeOf(hiS)
            if (p.peek == '[') {
              p.pos += 1
              var c = lo
              var done = false
              while (!done) {
                p.skipWs()
                if (p.peek == ']') { p.pos += 1; done = true }
                else if (p.peek == '<') { out(c) = textOf(p.hexString()); c += 1 }
                else if (p.pos >= p.d.length) done = true
                else p.pos += 1
              }
            } else if (p.peek == '<') {
              val dst = p.hexString()
              val base = textOf(dst)
              // incrementing range: the LAST UTF-16 unit increments (§9.10.3)
              var c = lo
              while (c <= hi) {
                val delta = c - lo
                val s =
                  if (base.isEmpty) ""
                  else base.dropRight(1) + (base.last + delta).toChar
                out(c) = s
                c += 1
              }
            }
          }
        case '<' => // a dict << ... >> (CIDSystemInfo etc.) — skip it
          p.obj()
        case '/' => p.name()
        case '(' => p.literalString()
        case '[' => p.obj()
        case c if (c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.' =>
          p.word()
        case _ =>
          p.word() match {
            case "beginbfchar" => mode = 1
            case "endbfchar" => mode = 0
            case "beginbfrange" => mode = 2
            case "endbfrange" => mode = 0
            case "" => p.pos += 1
            case _ => ()
          }
      }
    }
    out.toMap
  }

  // ------------------------------------------------------------ interpreter
  /** Row-vector 2D affine matrix (a b c d e f) per §8.3.3. */
  private def mul(m: Array[Double], n: Array[Double]): Array[Double] = Array(
    m(0) * n(0) + m(1) * n(2),
    m(0) * n(1) + m(1) * n(3),
    m(2) * n(0) + m(3) * n(2),
    m(2) * n(1) + m(3) * n(3),
    m(4) * n(0) + m(5) * n(2) + n(4),
    m(4) * n(1) + m(5) * n(3) + n(5))
  private def identity: Array[Double] = Array(1, 0, 0, 1, 0, 0)
  private def translate(tx: Double, ty: Double): Array[Double] = Array(1, 0, 0, 1, tx, ty)

  private final case class Run(x: Double, y: Double, width: Double, size: Double, text: String)

  /** One page (its dict with inherited attributes filled in); a missing or
    * malformed MediaBox defaults to US Letter.
    */
  private def renderPage(
      doc: Doc,
      pageDict: Map[String, PObj],
      pageNo: Int,
      fontCache: mutable.Map[Int, Font],
      imageCache: mutable.Map[Int, ImageRef]): PageContent = {
    val (w, h) = pageDict.get("MediaBox").map(doc.resolve(_)) match {
      case Some(PArr(ns)) if ns.length == 4 =>
        val v = ns.map(x => as[PNum](doc.resolve(x)).v)
        (math.abs(v(2) - v(0)), math.abs(v(3) - v(1)))
      case _ => (612.0, 792.0)
    }
    val runs = ArrayBuffer[Run]()
    val images = ArrayBuffer[ImageRef]()
    val content: Array[Byte] = pageDict.get("Contents") match {
      case None => Array.emptyByteArray
      case Some(cref) => doc.resolve(cref) match {
        case PArr(items) =>
          // multi-part contents concatenate with a whitespace joint (§7.8.2)
          items.flatMap(doc.decodedStream).foldLeft(Array.emptyByteArray) {
            (acc, part) => acc ++ "\n".getBytes(StandardCharsets.ISO_8859_1) ++ part
          }
        case _: PStream => doc.decodedStream(cref).getOrElse(Array.emptyByteArray)
        case _ => Array.emptyByteArray
      }
    }
    val res = pageDict.get("Resources").map(doc.dict).getOrElse(Map.empty)
    interpret(doc, content, res, identity, runs, images, fontCache, imageCache, depth = 0)
    PageContent(pageNo, w, h, assembleLines(runs.toSeq), images.toSeq)
  }

  /** Executes one content stream; recursion = form XObjects (depth-capped). */
  private def interpret(
      doc: Doc,
      content: Array[Byte],
      res: Map[String, PObj],
      baseCtm: Array[Double],
      runs: ArrayBuffer[Run],
      images: ArrayBuffer[ImageRef],
      fontCache: mutable.Map[Int, Font],
      imageCache: mutable.Map[Int, ImageRef],
      depth: Int): Unit = {
    if (depth > 8) return // malicious/corrupt recursion guard
    val fonts: Map[String, PObj] = res.get("Font").map(doc.dict).getOrElse(Map.empty)
    val xobjects: Map[String, PObj] = res.get("XObject").map(doc.dict).getOrElse(Map.empty)

    var ctm = baseCtm
    var tm = identity
    var tlm = identity
    var font: Font = null // no Tf yet — show ops are skipped (oracle parity)
    var size = 0.0
    var charSp = 0.0
    var wordSp = 0.0
    var hScale = 1.0
    var leading = 0.0
    var rise = 0.0
    // q/Q save/restore the FULL graphics state (§8.4.2): the text state
    // (font, size, spacing, leading, rise) is part of it — `q /F2 8 Tf
    // (x) Tj Q (y) Tj` must show y in the OUTER font. tm/tlm are
    // text-OBJECT state, not graphics state, and stay.
    final case class GState(ctm: Array[Double], font: Font, size: Double,
        charSp: Double, wordSp: Double, hScale: Double, leading: Double, rise: Double)
    val gsStack = mutable.Stack[GState]()

    val p = new Parser(content, 0)
    val operands = ArrayBuffer[PObj]()

    def numOp(i: Int): Double = operands.lift(operands.length - i) match {
      case Some(PNum(v)) => v
      case _ => 0.0
    }

    def tdOp(tx: Double, ty: Double): Unit = {
      tlm = mul(translate(tx, ty), tlm)
      tm = tlm.clone()
    }

    def show(str: PStr): Unit = {
      if (font == null) return // no Tf seen — nothing decodable (oracle parity)
      val bytes = str.bytes
      val trm = mul(tm, ctm)
      val x0 = trm(4) + rise * trm(2)
      val y0 = trm(5) + rise * trm(3)
      val sb = new StringBuilder
      var adv = 0.0 // text-space advance
      var i = 0
      val step = if (font.twoByte) 2 else 1
      while (i + step <= bytes.length) {
        val code =
          if (font.twoByte) ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
          else bytes(i) & 0xff
        sb ++= font.decode(code)
        val ws = if (!font.twoByte && code == 32) wordSp else 0.0
        adv += (font.width(code) / 1000.0 * size + charSp + ws) * hScale
        i += step
      }
      val text = sb.toString
      // device-space width/size via the text rendering matrix's scale
      val scaleX = math.hypot(trm(0), trm(1))
      val scaleY = math.hypot(trm(2), trm(3))
      if (text.nonEmpty)
        runs += Run(x0, y0, adv * scaleX, math.abs(size * scaleY), text)
      tm = mul(translate(adv, 0), tm)
    }

    def showAdjusted(items: Vector[PObj]): Unit = items.foreach {
      case s: PStr => show(s)
      case PNum(v) =>
        val dx = -v / 1000.0 * size * hScale
        // a large backward kern is a word gap the producer encoded instead
        // of a space glyph: insert one (threshold 0.18 em — real kerning
        // pairs sit well under 0.1 em)
        if (dx > 0.18 * size && size > 0) {
          val trm = mul(tm, ctm)
          runs += Run(trm(4), trm(5) + rise * trm(3), dx * math.hypot(trm(0), trm(1)),
            size * math.hypot(trm(2), trm(3)), " ")
        }
        tm = mul(translate(dx, 0), tm)
      case _ => ()
    }

    def skipInlineImage(): Unit = {
      // BI ... ID <binary> EI: scan for whitespace-delimited EI
      val d = p.d
      var i = p.pos
      while (i + 2 < d.length &&
        !(isWsByte(d(i)) && d(i + 1) == 'E' && d(i + 2) == 'I' &&
          (i + 3 >= d.length || isWsByte(d(i + 3))))) i += 1
      images += ImageRef(ctm(4), ctm(5), s"inline-${images.length}")
      p.pos = math.min(d.length, i + 3)
    }

    def doXObject(name: String): Unit = xobjects.get(name).foreach { ref =>
      doc.resolve(ref) match {
        case s: PStream =>
          val xm = s.dict.m
          doc.resolve(xm.getOrElse("Subtype", PNull)) match {
            case PName("Image") =>
              val template = ref match {
                case PRef(n, _) =>
                  imageCache.getOrElseUpdate(n, extractImage(doc, ref, s))
                case _ => extractImage(doc, ref, s)
              }
              images += template.copy(x = ctm(4), y = ctm(5), name = name)
            case PName("Form") =>
              val formMatrix = doc.resolve(xm.getOrElse("Matrix", PNull)) match {
                case PArr(ns) if ns.length == 6 =>
                  ns.map(v => as[PNum](doc.resolve(v)).v).toArray
                case _ => identity
              }
              val formRes = xm.get("Resources").map(doc.dict).getOrElse(res)
              doc.decodedStream(ref).foreach { body =>
                interpret(doc, body, formRes, mul(formMatrix, ctm), runs, images,
                  fontCache, imageCache, depth + 1)
              }
            case _ => ()
          }
        case _ => ()
      }
    }

    while (p.pos < p.d.length) {
      p.skipWs()
      if (p.pos >= p.d.length) return
      val c = p.peek
      if (c == '/' || c == '(' || c == '[' || c == '<' ||
        (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.') {
        operands += p.obj()
      } else if (c == ')' || c == ']' || c == '>' || c == '{' || c == '}') {
        p.pos += 1 // stray delimiter: resync
      } else {
        val op = p.word()
        if (op.isEmpty) p.pos += 1
        else {
          op match {
            case "q" =>
              gsStack.push(GState(ctm, font, size, charSp, wordSp, hScale, leading, rise))
            case "Q" => if (gsStack.nonEmpty) {
              val g = gsStack.pop()
              ctm = g.ctm; font = g.font; size = g.size; charSp = g.charSp
              wordSp = g.wordSp; hScale = g.hScale; leading = g.leading; rise = g.rise
            }
            case "cm" =>
              ctm = mul(Array(numOp(6), numOp(5), numOp(4), numOp(3), numOp(2), numOp(1)), ctm)
            case "BT" => tm = identity; tlm = identity
            case "ET" => ()
            case "Tf" =>
              size = numOp(1)
              operands.lift(operands.length - 2) match {
                case Some(PName(fname)) =>
                  fonts.get(fname).foreach(r => font = loadFont(doc, r, fontCache))
                case _ => ()
              }
            case "Td" => tdOp(numOp(2), numOp(1))
            case "TD" => leading = -numOp(1); tdOp(numOp(2), numOp(1))
            case "Tm" =>
              tlm = Array(numOp(6), numOp(5), numOp(4), numOp(3), numOp(2), numOp(1))
              tm = tlm.clone()
            case "T*" => tdOp(0, -leading)
            case "TL" => leading = numOp(1)
            case "Tc" => charSp = numOp(1)
            case "Tw" => wordSp = numOp(1)
            case "Tz" => hScale = numOp(1) / 100.0
            case "Ts" => rise = numOp(1)
            case "Tj" =>
              operands.lastOption.foreach { case s: PStr => show(s); case _ => () }
            case "'" =>
              tdOp(0, -leading)
              operands.lastOption.foreach { case s: PStr => show(s); case _ => () }
            case "\"" =>
              wordSp = numOp(3); charSp = numOp(2)
              tdOp(0, -leading)
              operands.lastOption.foreach { case s: PStr => show(s); case _ => () }
            case "TJ" =>
              operands.lastOption.foreach {
                case PArr(items) => showAdjusted(items)
                case _ => ()
              }
            case "Do" =>
              operands.lastOption.foreach {
                case PName(n) => doXObject(n)
                case _ => ()
              }
            case "BI" => skipInlineImage()
            case _ => () // painting/color/marked-content ops carry no text
          }
          operands.clear()
        }
      }
    }
  }

  /** Image XObject → payload (see [[ImageRef]]): JPEG/JPEG2000 streams
    * pass through byte-for-byte; Flate/LZW 8-bit RGB/Gray rasters
    * PNG-encode via javax.imageio; everything else keeps an empty payload.
    * Never throws — a broken image keeps the placeholder, not a task kill.
    */
  private def extractImage(doc: Doc, ref: PObj, s: PStream): ImageRef = {
    val xm = s.dict.m
    def num(k: String): Int = doc.resolve(xm.getOrElse(k, PNull)) match {
      case PNum(v) => v.toInt
      case _ => 0
    }
    val w = num("Width")
    val h = num("Height")
    val bpc = num("BitsPerComponent")
    val chain = doc.filterChain(xm).getOrElse(Nil)
    val colorSpace = doc.resolve(xm.getOrElse("ColorSpace", PNull)) match {
      case PName(n) => n
      case _ => ""
    }
    // decrypted but still filtered: a /DCTDecode payload IS the JPEG file
    def payload = ref match {
      case PRef(n, _) => doc.plainStream(n, s)
      case _ => s.data
    }
    try {
      chain.map(_._1) match {
        case Seq("DCTDecode") | Seq("DCT") =>
          ImageRef(0, 0, "", w, h, "image/jpeg", payload)
        case Seq("CCITTFaxDecode") | Seq("CCF") if w > 0 && h > 0 =>
          // scanned-document images: G4 (/K < 0), pure-1D G3 (/K = 0), and
          // mixed G3 (/K > 0) all decode to a bilevel raster → PNG.
          // BlackIs1 only affects bit-PACKED output, which is skipped —
          // the decoders yield semantic black/white directly.
          val parms: Map[String, PObj] = chain.head._2.fold(Map.empty[String, PObj])(_.m)
          def pnum(k: String, dflt: Double): Double =
            parms.get(k).map(doc.resolve(_)) match {
              case Some(PNum(v)) => v
              case _ => dflt
            }
          val k = pnum("K", 0)
          val cols = math.max(1, pnum("Columns", 1728).toInt)
          val rws = math.max(1, pnum("Rows", h.toDouble).toInt)
          val align = parms.get("EncodedByteAlign").map(doc.resolve(_)).contains(PBool(true))
          val px =
            if (k < 0) CcittG4.decode(payload, cols, rws, align)
            else CcittG4.decodeG3(payload, cols, rws, k.toInt, align)
          png(cols, rws)(i => if (px(i) == 1) 0x000000 else 0xFFFFFF)
        case Seq("JPXDecode") =>
          ImageRef(0, 0, "", w, h, "image/jp2", payload)
        case fs if fs.forall(f => f == "FlateDecode" || f == "Fl" || f == "LZWDecode" || f == "LZW") &&
            bpc == 8 && w > 0 && h > 0 &&
            (colorSpace == "DeviceRGB" || colorSpace == "DeviceGray") =>
          val px = doc.decodedStream(ref).getOrElse(Array.emptyByteArray)
          val ncomp = if (colorSpace == "DeviceRGB") 3 else 1
          if (px.length < w * h * ncomp) ImageRef(0, 0, "", w, h, "", Array.emptyByteArray)
          else png(w, h) { k =>
            val i = k * ncomp
            if (ncomp == 3) ((px(i) & 0xff) << 16) | ((px(i + 1) & 0xff) << 8) | (px(i + 2) & 0xff)
            else { val g = px(i) & 0xff; (g << 16) | (g << 8) | g }
          }
        case _ => ImageRef(0, 0, "", w, h, "", Array.emptyByteArray)
      }
    } catch {
      case _: Exception => ImageRef(0, 0, "", w, h, "", Array.emptyByteArray)
    }
  }

  /** A `w`×`h` PNG media item whose pixel k (row-major) is `rgb(k)`. One
    * bulk raster write — per-pixel setRGB is a synchronized call per pixel
    * (~8.7M calls on a full-page scan).
    */
  private def png(w: Int, h: Int)(rgb: Int => Int): ImageRef = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val packed = new Array[Int](w * h)
    var k = 0
    while (k < packed.length) { packed(k) = rgb(k); k += 1 }
    img.setRGB(0, 0, w, h, packed, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    ImageRef(0, 0, "", w, h, "image/png", bos.toByteArray)
  }

  private def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\r' || b == '\n' || b == 0 || b == '\f'

  // ------------------------------------------------------------ line assembly
  /** The 4-step contract from the scaladoc (shared with the Python oracle). */
  private[extract] def assembleLines(runs: Seq[Run]): Seq[Line] = {
    if (runs.isEmpty) return Nil
    // 2. baseline clustering (tolerance 2.0pt), scanning top-to-bottom
    val sorted = runs.sortBy(r => (-r.y, r.x))
    val lines = ArrayBuffer[ArrayBuffer[Run]]()
    var curY = Double.NaN
    sorted.foreach { r =>
      if (lines.isEmpty || math.abs(r.y - curY) > 2.0) {
        lines += ArrayBuffer(r)
        curY = r.y
      } else lines.last += r
    }
    // 3. within a line: sort by x; gap > 0.3×size ⇒ space, > 2.0×size ⇒ split
    val segments = ArrayBuffer[Line]()
    lines.foreach { lr =>
      val inLine = lr.sortBy(_.x)
      var segStart = 0
      var i = 1
      def flush(endExcl: Int): Unit = {
        val seg = inLine.slice(segStart, endExcl)
        val sb = new StringBuilder
        var prevEnd = Double.NaN
        var prevSize = 0.0
        seg.foreach { r =>
          if (!prevEnd.isNaN) {
            val gap = r.x - prevEnd
            if (gap > 0.3 * math.max(prevSize, r.size) &&
              !sb.endsWith(" ") && !r.text.startsWith(" ")) sb += ' '
          }
          sb ++= r.text
          prevEnd = r.x + r.width
          prevSize = r.size
        }
        val text = trimEnds(collapseSpaces(sb.toString))
        if (text.nonEmpty) {
          val size = seg.map(_.size).max
          segments += Line(seg.head.x, seg.head.y,
            seg.last.x + seg.last.width - seg.head.x, size, text)
        }
      }
      while (i < inLine.length) {
        val gap = inLine(i).x - (inLine(i - 1).x + inLine(i - 1).width)
        val sz = math.max(inLine(i).size, inLine(i - 1).size)
        if (gap > 2.0 * sz) { flush(i); segStart = i }
        i += 1
      }
      flush(inLine.length)
    }
    // 4. top-to-bottom, left-to-right
    segments.sortBy(s => (-s.y, s.x)).toSeq
  }

  private def collapseSpaces(s: String): String = {
    val sb = new StringBuilder(s.length)
    var prevSpace = false
    s.foreach { c =>
      if (c == ' ') { if (!prevSpace) sb += c; prevSpace = true }
      else { sb += c; prevSpace = false }
    }
    sb.toString
  }

  /** ASCII-space trim ONLY — nbsp and exotic whitespace are content, and
    * the Python oracle's `strip(" ")` must agree byte-for-byte.
    */
  private def trimEnds(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s(a) == ' ') a += 1
    while (b > a && s(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  // ------------------------------------------------------------ writer
  /** Deterministic text-PDF writer — the encode side of the q_pdf_text
    * round-trip (same fixture pattern as [[PdfBytes.buildPdf]]): each page
    * carries a REAL content stream (Flate-compressed when `compress`)
    * showing one line per entry, rotating through the three show forms the
    * interpreter must handle — literal-string Tj, hex-string Tj, and a
    * kerned TJ array whose -400 gap reconstructs the line's single space.
    * Font is unembedded Helvetica/WinAnsiEncoding (Type1 core-14 shape).
    */
  def buildTextPdf(pages: Seq[Seq[String]], compress: Boolean = true): Array[Byte] =
    buildTextPdf(pages, compress, pages.map(_ => Nil))

  /** `pageImages(i)` = (payload, width, height) triples embedded on page i
    * as /DCTDecode image XObjects drawn after the text — the encode side
    * of the image-sidecar round-trip (DCT passthrough never decodes, so
    * any deterministic payload works as a stand-in JPEG body).
    */
  def buildTextPdf(
      pages: Seq[Seq[String]],
      compress: Boolean,
      pageImages: Seq[Seq[(Array[Byte], Int, Int)]]): Array[Byte] = {
    require(pages.nonEmpty, "at least one page")
    require(pageImages.length == pages.length, "one image list per page")
    // image objects follow the font (2n + 3), numbered in page order
    val firstImg = pageImages.scanLeft(2 * pages.length + 4)(_ + _.length)
    val contents = pages.zip(pageImages).map { case (lines, imgs) =>
      val text = showLines(lines) { (line, i) =>
        i % 3 match {
          case 0 => s"${Bin.pdfLiteral(line)} Tj\n"
          case 1 => s"${Bin.hex(line.getBytes(StandardCharsets.ISO_8859_1))} Tj\n"
          case _ => kerned(line, Bin.pdfLiteral)
        }
      }
      val draws = imgs.indices.map(j => s"q 200 0 0 100 72 ${420 - 110 * j} cm /Img$j Do Q\n")
      (text +: draws).mkString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val pdf = new Bin.PdfWriter
    val fontNum = pageTree(pdf, contents, compress, i =>
      if (pageImages(i).isEmpty) ""
      else s" /XObject << ${pageImages(i).indices.map(j => s"/Img$j ${firstImg(i) + j} 0 R").mkString(" ")} >>")
    pdf.obj(fontNum, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    pageImages.flatten.zipWithIndex.foreach { case ((data, iw, ih), k) =>
      pdf.stream(fontNum + 1 + k, s"<< /Type /XObject /Subtype /Image /Width $iw /Height $ih " +
        s"/BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /DCTDecode /Length ${data.length} >>", data)
    }
    pdf.finish("")
  }

  /** Embedded-TrueType writer variant — the encode side of the
    * subsetted-font round-trip: the font dict has NO /Encoding and NO
    * /ToUnicode, so every code is decodable ONLY through the /FontFile2
    * program ([[TrueType.build]]).
    *
    *  - `unicodeCmap = false` (the subsetter shape): codes are assigned by
    *    first use starting at 1 (meaningless without the font), a (1,0)
    *    format-6 cmap maps code → glyph (code + 2), and a `post` 2.0 table
    *    names each glyph with its AGL name (letters/digits as single-char
    *    names, space/hyphen by name, anything else uniXXXX) — decode runs
    *    cmap → post → AGL.
    *  - `unicodeCmap = true`: codes are the raw Latin-1 bytes and the only
    *    cmap is a (3,1) format-4 Unicode table onto arbitrary glyph ids
    *    (100 + k) — decode runs cmap → inverse-Unicode.
    * Strings are emitted as hex (subset codes include control bytes);
    * odd lines as kerned TJ arrays.
    */
  def buildTextPdfTT(pages: Seq[Seq[String]], unicodeCmap: Boolean): Array[Byte] = {
    val distinct = fixtureChars(pages)
    val codeOf = if (unicodeCmap) distinct.map(c => c -> c.toInt).toMap else firstUseCodes(distinct)
    val ttf =
      if (unicodeCmap)
        TrueType.build(unicodeToGlyph =
          distinct.zipWithIndex.map { case (c, i) => c.toInt -> (100 + i) })
      else
        TrueType.build(
          codeToGlyph = distinct.map(c => codeOf(c) -> (codeOf(c) + 2)),
          glyphNames = distinct.map(c => (codeOf(c) + 2) -> aglName(c)).toMap)
    embeddedFontPdf(pages, codeOf, kernOddLines = true, "TrueType", "GRAFTA+Fixture", "FontFile2",
      ttf, s" /Length1 ${ttf.length}")
  }

  /** Embedded-CFF writer variant — the Type1C sibling of
    * [[buildTextPdfTT]]: the font dict has NO /Encoding and NO /ToUnicode,
    * so every code is decodable ONLY through the /FontFile3 (Subtype
    * /Type1C) program ([[Cff.build]]). Codes are assigned by first use
    * starting at 1, a format-0 CFF encoding maps code → glyph, and the
    * format-0 charset names each glyph with its AGL name — letters as
    * single-char STANDARD strings, digits/space/hyphen and uniXXXX names
    * through BOTH the standard table and the custom String INDEX — decode
    * runs encoding → charset → SID name → AGL. Strings are emitted as hex
    * (subset codes include control bytes).
    */
  def buildTextPdfCFF(pages: Seq[Seq[String]]): Array[Byte] = {
    val codeOf = firstUseCodes(fixtureChars(pages))
    val program = Cff.build(fixtureGlyphs(codeOf))
    embeddedFontPdf(pages, codeOf, kernOddLines = false, "Type1", "GRAFTB+Fixture", "FontFile3",
      program, " /Subtype /Type1C")
  }

  /** Embedded-Type1 writer variant (/FontFile): same shape, decode runs
    * the cleartext /Encoding `dup code /name put` entries ([[Type1]]).
    */
  def buildTextPdfT1(pages: Seq[Seq[String]]): Array[Byte] = {
    val codeOf = firstUseCodes(fixtureChars(pages))
    val (clear, priv) = Type1.buildParts(fixtureGlyphs(codeOf), stdEncoding = false)
    embeddedFontPdf(pages, codeOf, kernOddLines = false, "Type1", "GRAFTB+Fixture", "FontFile",
      clear ++ priv, s" /Length1 ${clear.length} /Length2 ${priv.length} /Length3 0")
  }

  /** The fixture's distinct chars in first-use order (Latin-1 only). */
  private def fixtureChars(pages: Seq[Seq[String]]): Seq[Char] = {
    require(pages.nonEmpty, "at least one page")
    val distinct = pages.flatten.flatMap(_.toSeq).distinct
    require(distinct.forall(_ < 256), "fixture charset is Latin-1")
    distinct
  }
  private def firstUseCodes(distinct: Seq[Char]): Map[Char, Int] =
    distinct.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
  private def aglName(c: Char): String =
    if (c.isLetterOrDigit && c < 128) c.toString
    else if (c == ' ') "space"
    else if (c == '-') "hyphen"
    else f"uni${c.toInt}%04X"
  private def fixtureGlyphs(codeOf: Map[Char, Int]): Seq[(Int, String)] =
    codeOf.toSeq.sortBy(_._2).map { case (c, code) => code -> aglName(c) }

  /** The embedded-font fixture shape: hex-coded text through `codeOf`, a
    * font dict with NO /Encoding and NO /ToUnicode, and its descriptor's
    * `/<programKey>` stream holding `program` (`programDict` adds to that
    * stream's dict after /Length).
    */
  private def embeddedFontPdf(
      pages: Seq[Seq[String]],
      codeOf: Map[Char, Int],
      kernOddLines: Boolean,
      subtype: String,
      fontName: String,
      programKey: String,
      program: Array[Byte],
      programDict: String): Array[Byte] = {
    def hexOf(s: String): String = s.map(c => f"${codeOf(c)}%02X").mkString("<", "", ">")
    val contents = pages.map(lines => showLines(lines) { (line, i) =>
      if (kernOddLines && i % 2 == 1) kerned(line, hexOf) else s"${hexOf(line)} Tj\n"
    }.getBytes(StandardCharsets.ISO_8859_1))
    val pdf = new Bin.PdfWriter
    val fontNum = pageTree(pdf, contents, compress = true, _ => "")
    val codes = codeOf.values.toSet
    val (first, last) = (codes.min, codes.max)
    val widths = (first to last).map(c => if (codes.contains(c)) "600" else "0").mkString(" ")
    pdf.obj(fontNum, s"<< /Type /Font /Subtype /$subtype /BaseFont /$fontName " +
      s"/FirstChar $first /LastChar $last /Widths [ $widths ] /FontDescriptor ${fontNum + 1} 0 R >>")
    pdf.obj(fontNum + 1,
      s"<< /Type /FontDescriptor /FontName /$fontName /Flags 4 /$programKey ${fontNum + 2} 0 R >>")
    pdf.stream(fontNum + 2, s"<< /Length ${program.length}$programDict >>", program)
    pdf.finish("")
  }

  /** Catalog (1), page tree (2), one 612x792 page per content stream
    * (3..n+2, contents n+3..2n+2, Flate when `compress`), every page
    * naming object 2n+3 as font /F1 — returned for the caller to write.
    * `resources(i)` adds to page i's /Resources dict.
    */
  private def pageTree(pdf: Bin.PdfWriter, contents: Seq[Array[Byte]], compress: Boolean,
      resources: Int => String): Int = {
    val n = contents.length
    val fontNum = 2 * n + 3
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Count $n /Kids [ ${(0 until n).map(i => s"${3 + i} 0 R").mkString(" ")} ] >>")
    (0 until n).foreach { i =>
      pdf.obj(3 + i, s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        s"/Resources << /Font << /F1 $fontNum 0 R >>${resources(i)} >> /Contents ${n + 3 + i} 0 R >>")
    }
    contents.zipWithIndex.foreach { case (raw, i) =>
      val payload = if (compress) Bin.deflate(raw) else raw
      val filter = if (compress) " /Filter /FlateDecode" else ""
      pdf.stream(n + 3 + i, s"<< /Length ${payload.length}$filter >>", payload)
    }
    fontNum
  }

  /** One line per entry, 16pt apart, in 12pt /F1 from (72, 720). */
  private def showLines(lines: Seq[String])(show: (String, Int) => String): String = {
    val sb = new StringBuilder("BT\n/F1 12 Tf\n72 720 Td\n")
    lines.zipWithIndex.foreach { case (line, i) =>
      if (i > 0) sb ++= "0 -16 Td\n"
      sb ++= show(line, i)
    }
    (sb ++= "ET\n").toString
  }

  /** `line` as a TJ array split at its LAST space: the -400 kern (4.8pt
    * at 12pt > the 0.18-em threshold) reads back as exactly one space.
    */
  private def kerned(line: String, str: String => String): String = {
    val cut = line.lastIndexOf(' ')
    if (cut <= 0) s"${str(line)} Tj\n"
    else s"[${str(line.substring(0, cut))} -400 ${str(line.substring(cut + 1))}] TJ\n"
  }

  // ------------------------------------------------------------ paragraphs
  /** Merge consecutive lines into paragraph blocks: a new paragraph starts
    * when the baseline step exceeds 1.8× the current line size, the font
    * size changes by more than 20%, or an x-indent jumps backward by more
    * than 2 em. Join with single spaces. This is the span-granularity the
    * extraction pipeline emits (one text span per paragraph, like the
    * reference converters' block output). Returns (text, max line size,
    * line count, top-line y) per paragraph block.
    */
  private def paragraphsWithMeta(lines: Seq[Line]): Seq[(String, Double, Int, Double)] = {
    if (lines.isEmpty) return Nil
    val out = ArrayBuffer[(String, Double, Int, Double)]()
    val cur = new StringBuilder(lines.head.text)
    var curSize = lines.head.size
    var curLines = 1
    var curY = lines.head.y
    var prev = lines.head
    def flush(): Unit = { out += ((cur.toString, curSize, curLines, curY)) }
    lines.tail.foreach { l =>
      val step = prev.y - l.y
      val sizeJump = prev.size > 0 &&
        math.abs(l.size - prev.size) > 0.2 * prev.size
      val newPara = step > 1.8 * math.max(l.size, prev.size) || step < -2.0 ||
        sizeJump
      if (newPara) {
        flush()
        cur.clear(); cur ++= l.text; curSize = l.size; curLines = 1; curY = l.y
      } else {
        cur += ' '
        cur ++= l.text
        curSize = math.max(curSize, l.size)
        curLines += 1
      }
      prev = l
    }
    flush()
    out.toSeq
  }

  /** Paragraph blocks with markdown heading inference — the span-grammar
    * shape the reference's converters emit: a short block (≤2 lines) whose
    * font size clears the document's median body size by ≥75% becomes a
    * `# ` heading, by ≥30% a `## ` heading. Size tiers are relative per
    * DOCUMENT (pass the whole document's lines as `allLines`; with none, no
    * heading is inferred), so one oversized cover page cannot demote real
    * body text. Each block comes with its top-line baseline y — the
    * position key the extraction pipeline uses to splice image spans into
    * reading order within the page (the reference's converters interleave
    * images at their layout position, test_output.ambr:49).
    */
  def markdownBlocksWithY(lines: Seq[Line], allLines: Seq[Line]): Seq[(String, Double)] = {
    val paras = paragraphsWithMeta(lines)
    val sizes = allLines.map(_.size).filter(_ > 0).sorted
    val body = if (sizes.isEmpty) 0.0 else sizes(sizes.length / 2)
    paras.map { case (text, size, n, y) =>
      val md =
        if (n <= 2 && body > 0 && size >= 1.75 * body) "# " + text
        else if (n <= 2 && body > 0 && size >= 1.3 * body) "## " + text
        else text
      (md, y)
    }
  }
}
