package graft.extract

import javax.xml.stream.{XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** The one StAX walk behind the XML markup converters (DocBook, FB2, JATS,
  * OPML, EndNote): the reader loop, the ancestor `path`, the `inline` text
  * buffer, one stack of closers for marks and links and verbatim text. Every
  * block goes to `out`, the shared [[MdShared.Blocks]] builder, which keeps
  * source order, builds the lists and throws the no-content failure.
  *
  * A converter's role table names the elements the walker renders; its
  * `start`/`end` hooks see every other element, with `path` holding the
  * element's ancestors.
  *
  *   - `Para`: its text, whitespace-collapsed, as a paragraph (item text
  *     inside an open list item); `Image(attr)`: an `![attr](attr)` block
  *   - `Mark(m)`: `m` around its text; `Link(attr)`: `[text](attr)`
  *   - `Verbatim(langAttr)`: all text inside as one fence, closed only by
  *     the element that opened it
  *   - `ListOf(ordered)`/`Item`: nested lists; an item's first text is its
  *     marker line, later paragraphs indent under it; text pending when a
  *     list opens is flushed as a paragraph first, and an item outside any
  *     list renders its text as ordinary blocks
  *   - `Hidden`: its text is dropped
  *
  * Each instance serves one document (executor-thread safe under local[32]).
  */
private[extract] abstract class XmlMarkup(kind: String, roles: Map[String, XmlMarkup.Role] = Map.empty) {
  import XmlMarkup._

  protected val out = new MdShared.Blocks
  protected val path = ArrayBuffer.empty[String]
  protected val inline = new StringBuilder
  // per open list item, innermost first: is its marker line written?
  private var items = List.empty[Boolean]
  private var reader: XMLStreamReader = _
  // the closer of each open mark or link, with its element's depth
  private var closers = List.empty[(Int, String)]
  private var verbatim: StringBuilder = _
  private var verbatimLang = ""
  private var verbatimDepth = 0
  private var hidden = 0

  protected def start(name: String): Unit = ()
  protected def end(name: String): Unit = ()

  /** The rendered document; an override may join other blocks. */
  protected def finish(): String = out.finish(kind)

  /** Where element `name`'s non-empty text goes: the open list item, else a block. */
  protected def paragraph(name: String, t: String): Unit = if (items.nonEmpty) itemText(t) else out.block(t)

  private def itemText(t: String): Unit = items match {
    case false :: rest =>
      out.item(out.ordered, t)
      items = true :: rest
    case _ => out.indented(t)
  }

  /** Attribute of the element being opened, by local name ("" if absent). */
  protected def attr(local: String): String = DocxExtract.attr(reader, local)

  /** Take the pending inline text, whitespace-collapsed and trimmed. */
  protected def flush(): String = {
    val t = DocxExtract.collapseWs(inline.toString).trim
    inline.clear()
    t
  }

  /** Open inline markup now; `close` is written when this element ends. */
  protected def wrap(open: String, close: String): Unit = {
    inline.append(open)
    closers = (path.length, close) :: closers
  }

  protected def heading(level: Int, t: String): Unit =
    if (t.nonEmpty) out.heading(level, t)

  protected def image(target: String): Unit =
    if (target.nonEmpty) out.image(target)

  private def flushParagraph(name: String): Unit = {
    val t = flush()
    if (t.nonEmpty) paragraph(name, t)
  }

  final def run(src: String): String = {
    reader = DocxExtract.reader(src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      while (reader.hasNext) reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val name = reader.getLocalName
          if (verbatim == null) open(name)
          path += name
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (verbatim != null) verbatim.append(reader.getText)
          else if (hidden == 0) inline.append(reader.getText)
        case XMLStreamConstants.END_ELEMENT =>
          val name = reader.getLocalName
          path.remove(path.length - 1)
          if (verbatim == null) close(name)
          else if (path.length == verbatimDepth) {
            out.code(verbatim.toString.stripPrefix("\n").stripTrailing(), verbatimLang)
            verbatim = null
          }
        case _ => ()
      }
    } finally reader.close()
    finish()
  }

  private def open(name: String): Unit = roles.get(name) match {
    case Some(Para) => inline.clear()
    case Some(Mark(m)) => wrap(m, m)
    case Some(Link(a)) => wrap("[", s"](${attr(a)})")
    case Some(Image(a)) => image(attr(a))
    case Some(Verbatim(a)) =>
      verbatim = new StringBuilder
      verbatimLang = attr(a)
      verbatimDepth = path.length
    case Some(ListOf(ordered)) =>
      flushParagraph(name)
      out.openList(ordered(reader))
    case Some(Item) =>
      inline.clear()
      if (out.inList) items = false :: items
    case Some(Hidden) => hidden += 1
    case None => start(name)
  }

  private def close(name: String): Unit = {
    roles.get(name) match {
      case Some(Para) => flushParagraph(name)
      case Some(ListOf(_)) => out.closeList()
      case Some(Item) if out.inList =>
        // a bare item with no paragraph still renders its text
        val t = flush()
        if (t.nonEmpty && items.headOption.contains(false)) itemText(t)
        items = items.drop(1)
      case Some(Item) => flushParagraph(name)
      case Some(Hidden) => hidden -= 1
      case Some(_) => ()
      case None => end(name)
    }
    closers match {
      case (depth, close) :: rest if depth == path.length =>
        inline.append(close)
        closers = rest
      case _ => ()
    }
  }
}

private[extract] object XmlMarkup {
  sealed trait Role
  case object Para extends Role
  final case class Mark(mark: String) extends Role
  final case class Link(targetAttr: String) extends Role
  final case class Image(targetAttr: String) extends Role
  final case class Verbatim(langAttr: String) extends Role
  final case class ListOf(ordered: XMLStreamReader => Boolean) extends Role
  case object Item extends Role
  case object Hidden extends Role
}
