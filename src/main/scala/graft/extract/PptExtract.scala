package graft.extract

import graft.extract.Bin.{cat, u16le => u16, u32le => u32}
import scala.collection.mutable.ArrayBuffer

/** Legacy PowerPoint binary (.ppt) text extraction ([MS-PPT], public spec)
  * over the [[CfbExtract]] container — the reference routes
  * `application/vnd.ms-powerpoint` through MarkItDown
  * (`markitdown_provider/provider.py:41`). The PowerPoint Document stream
  * is a record tree (8-byte headers: recVerAndInstance, recType, recLen LE;
  * containers have recVer 0xF); text lives in TextCharsAtom (0x0FA0,
  * UTF-16LE) / TextBytesAtom (0x0FA8, low-byte Unicode) records, each
  * governed by the preceding TextHeaderAtom (0x0F9F) whose type 0/6 marks
  * title text. One Slide container (0x03EE) = one page; title text becomes
  * a `# ` heading span, everything else body paragraphs (atom-internal \r
  * separates paragraphs). Shapes/styling records carry no text and are
  * skipped structurally. Title from the SummaryInformation property set,
  * falling back to the first slide title. The deck parses into the slides
  * shape ([[OfficeExtract.PptxDoc]]).
  */
object PptExtract {

  import OfficeExtract.{PptxDoc, Slide}

  private val SlideContainer = 0x03EE
  private val SlideListWithText = 0x0FF0
  private val SlidePersistAtom = 0x03F3
  private val TextHeaderAtom = 0x0F9F
  private val TextCharsAtom = 0x0FA0
  private val TextBytesAtom = 0x0FA8

  def extract(bytes: Array[Byte]): Either[String, PptxDoc] =
    CfbExtract.readStreams(bytes).map { streams =>
      val ppt = streams.getOrElse("PowerPoint Document",
        throw new IllegalStateException("no PowerPoint Document stream"))
      val slides = ArrayBuffer[Slide]()
      // real PowerPoint keeps placeholder text OUTSIDE the slide
      // drawings, in DocumentContainer > SlideListWithText, grouped by
      // SlidePersistAtom in slide order (the drawings reference it via
      // OutlineTextRefAtom); both carriers are read, SLWT groups filling
      // slides whose drawing carried no text (positional mapping — the
      // persist-id indirection is 1:1 in practice, documented subset)
      val slwtGroups = ArrayBuffer[ArrayBuffer[(Boolean, String)]]()

      def decodeChars(body: Int, bodyEnd: Int): String =
        new String(ppt, body, bodyEnd - body,
          java.nio.charset.StandardCharsets.UTF_16LE)
      def decodeBytes(body: Int, bodyEnd: Int): String = {
        // low bytes of UTF-16: each byte IS the code point
        val sb = new StringBuilder(bodyEnd - body)
        var k = body
        while (k < bodyEnd) { sb += (ppt(k) & 0xff).toChar; k += 1 }
        sb.toString
      }
      // one slide's (isTitle, text) atoms: the first title, body paragraphs
      def groupSlide(g: Seq[(Boolean, String)]): Slide = {
        val title = g.collectFirst { case (true, t) if t.nonEmpty => t }
        val blocks = g.collect { case (false, t) if t.nonEmpty => t }
        Slide(title.getOrElse(""),
          blocks.flatMap(_.split('\r').map(DocxExtract.collapseWs).filter(_.nonEmpty)).toSeq)
      }

      // walk one container's records; `sink` gathers (isTitle, text) —
      // null at the top level, a slide buffer inside Slide containers,
      // and the current SLWT group inside SlideListWithText
      def walk(start: Int, end: Int, sink: ArrayBuffer[(Boolean, String)],
          inSlwt: Boolean, depth: Int): Unit = {
        if (depth > Bin.MaxNesting)
          throw new IllegalStateException(s"records nested deeper than ${Bin.MaxNesting} at $start")
        var p = start
        var pendingTitle = false
        while (p + 8 <= end) {
          val verInst = u16(ppt, p)
          val recType = u16(ppt, p + 2)
          val len = u32(ppt, p + 4).toInt
          val body = p + 8
          val bodyEnd = math.min(body + len, end)
          if (len < 0 || body > end) return // truncated record: stop
          val isContainer = (verInst & 0xF) == 0xF
          if (recType == SlideContainer && sink == null && !inSlwt) {
            val texts = ArrayBuffer[(Boolean, String)]()
            walk(body, bodyEnd, texts, inSlwt = false, depth + 1)
            slides += groupSlide(texts.toSeq)
          } else if (recType == SlideListWithText && sink == null) {
            walk(body, bodyEnd, null, inSlwt = true, depth + 1)
          } else if (isContainer) {
            walk(body, bodyEnd, sink, inSlwt, depth + 1)
          } else if (inSlwt && recType == SlidePersistAtom) {
            slwtGroups += ArrayBuffer()
          } else if (sink != null || (inSlwt && slwtGroups.nonEmpty)) {
            def put(isTitle: Boolean, text: String): Unit =
              if (sink != null) sink += ((isTitle, text))
              else slwtGroups.last += ((isTitle, text))
            recType match {
              case TextHeaderAtom =>
                val txType = if (len >= 4) u32(ppt, body).toInt else -1
                pendingTitle = txType == 0 || txType == 6
              case TextCharsAtom =>
                put(pendingTitle, decodeChars(body, bodyEnd))
                pendingTitle = false
              case TextBytesAtom =>
                put(pendingTitle, decodeBytes(body, bodyEnd))
                pendingTitle = false
              case _ => ()
            }
          }
          p = body + len
        }
      }
      walk(0, ppt.length, null, inSlwt = false, depth = 0)

      if (slides.isEmpty) slwtGroups.foreach(g => slides += groupSlide(g.toSeq))
      else slides.indices.foreach { idx =>
        if (slides(idx).title.isEmpty && slides(idx).blocks.isEmpty &&
            idx < slwtGroups.length)
          slides(idx) = groupSlide(slwtGroups(idx).toSeq)
      }
      require(slides.nonEmpty, "no Slide containers or SlideListWithText")
      val psTitle = streams.get("\u0005SummaryInformation")
        .map(CfbExtract.summaryTitle).getOrElse("")
      val title = if (psTitle.nonEmpty) psTitle
        else slides.collectFirst { case s if s.title.nonEmpty => s.title }.getOrElse("")
      PptxDoc(title, slides.toSeq)
    }

  // ------------------------------------------------------------ writer
  /** Deterministic .ppt fixture: a Document container wrapping one Slide
    * container per slide; titles as TextHeaderAtom(type 0) + TextCharsAtom
    * (UTF-16LE), body paragraphs as TextHeaderAtom(type 1) + TextBytesAtom
    * — both decode paths exercised in every deck. With
    * `viaSlideListWithText` the text moves where REAL PowerPoint puts
    * placeholder text: a SlideListWithText container (SlidePersistAtom per
    * slide) inside the Document container, with EMPTY Slide containers.
    */
  def buildPpt(title: String, slides: Seq[(String, Seq[String])],
      viaSlideListWithText: Boolean = false): Array[Byte] = {
    require(slides.nonEmpty, "at least one slide")
    def rec(verInst: Int, recType: Int, body: Array[Byte]): Array[Byte] =
      new Bin.Sink(body.length + 8).u16le(verInst).u16le(recType)
        .u32le(body.length).bytes(body).toArray
    def headerAtom(txType: Int): Array[Byte] =
      rec(0x0000, TextHeaderAtom, new Bin.Sink().u32le(txType).toArray)

    def textRecs(st: String, blocks: Seq[String]): Array[Byte] = {
      val titleRecs =
        if (st.isEmpty) Array.emptyByteArray
        else cat(headerAtom(0),
          rec(0x0000, TextCharsAtom,
            st.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)))
      val bodyRecs = blocks.map { b =>
        require(b.forall(_ < 256), "TextBytesAtom is low-byte text")
        cat(headerAtom(1),
          rec(0x0000, TextBytesAtom,
            b.map(c => c.toByte).toArray))
      }
      cat((titleRecs +: bodyRecs): _*)
    }
    val docStream =
      if (viaSlideListWithText) {
        val groups = slides.map { case (st, blocks) =>
          cat(rec(0x0000, SlidePersistAtom, new Array[Byte](20)), textRecs(st, blocks))
        }
        val slwt = rec(0x000F, SlideListWithText, cat(groups: _*))
        val emptySlides = slides.map(_ => rec(0x000F, SlideContainer, Array.emptyByteArray))
        rec(0x000F, 0x03E8, cat((slwt +: emptySlides): _*))
      } else {
        val slideRecs = slides.map { case (st, blocks) =>
          rec(0x000F, SlideContainer, textRecs(st, blocks))
        }
        rec(0x000F, 0x03E8, cat(slideRecs: _*)) // DocumentContainer
      }
    CfbExtract.build(Seq(
      "PowerPoint Document" -> docStream,
      "\u0005SummaryInformation" -> CfbExtract.buildSummary(title)))
  }
}
