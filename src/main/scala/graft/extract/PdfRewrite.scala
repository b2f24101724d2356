package graft.extract

import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Byte-level PDF re-emission over the [[PdfBytes]] object model — the
  * analogs of the reference's `extract_pdf_pages` (pdf_utils.py:138-184,
  * pypdf PdfWriter page subset) and `decrypt_pdf` (pdf_utils.py:90-135,
  * decrypt + re-emit). Both copy the transitive object closure from their
  * roots into a fresh classic-xref document with renumbered objects;
  * Standard-handler files (RC4, AES-128/AESV2, AES-256/AESV3) are
  * decrypted during the copy by the [[PdfBytes.Doc]] that
  * [[PdfBytes.open]] returned (strings and stream payloads under each
  * carrier object's key, or the file key for V5), so the output never
  * carries /Encrypt.
  *
  * Faithfulness bounds (documented, not faked): per-object decryption keys
  * use each object's XREF generation (gen>0 objects key correctly); the
  * OUTPUT renumbers everything to generation 0 as any fresh writer does.
  * /Annots and /Outlines are dropped on page extraction so links cannot
  * drag excluded pages into the closure (pypdf rewrites such references
  * instead). When /EncryptMetadata is false the XMP /Metadata stream is
  * stored plaintext and is copied verbatim, as is any stream whose /Filter
  * chain carries a /Crypt Identity filter (§7.4.10).
  */
object PdfRewrite {

  import PdfBytes._

  /** The reference's `extract_pdf_pages`: keep the given 0-based page
    * indices (in document order). Errors are Left — bad indices, locked or
    * unsupported-encryption documents, parse failures.
    */
  def extractPages(
      data: Array[Byte],
      keep: Seq[Int],
      password: Option[String] = None): Either[String, Array[Byte]] =
    try open(data, password) match {
      case Left(locked) => Left(encryptedError(locked))
      case Right(doc) =>
        val pages = collectPages(doc, forExtraction = true)
        // out-of-range indices are SILENTLY skipped — exact reference parity
        // (pdf_utils.py:172-176: `if 0 <= i < len(reader.pages)`)
        val kept = keep.filter(i => i >= 0 && i < pages.length).map(pages)
        Right(emit(doc, kept))
    } catch {
      case e: Exception => Left(Formats.parseError("pdf", e))
    }

  /** The reference's `decrypt_pdf`: unencrypted input returns the ORIGINAL
    * bytes unchanged (pdf_utils.py:104-106); an encrypted document that the
    * password (or the empty password) opens is re-emitted decrypted; a
    * wrong password is an error.
    */
  def decryptPdf(data: Array[Byte], password: String): Either[String, Array[Byte]] =
    try open(data, if (password.isEmpty) None else Some(password)) match {
      case Left(locked) => Left(encryptedError(locked))
      case Right(doc) if !doc.encrypted => Right(data)
      case Right(doc) =>
        Right(emit(doc, collectPages(doc, forExtraction = false), includeInfo = true))
    } catch {
      case e: Exception => Left(Formats.parseError("pdf", e))
    }

  /** One kept page: its source ref (for per-object decryption keys) and the
    * page dict with inheritable attributes MATERIALIZED (MediaBox,
    * Resources, Rotate, CropBox walk down from /Pages nodes — §7.7.3.4) and
    * tree/link plumbing removed.
    */
  private final case class SrcPage(num: Int, dict: Map[String, PObj])

  /** Page extraction drops link/structure plumbing so references cannot
    * drag EXCLUDED pages into the closure; decryption keeps every page, so
    * only the tree pointer is replaced and annotations survive (the
    * reference's decrypt preserves them too).
    */
  private val ExtractionDropped = Set("Parent", "Annots", "StructParents", "B", "Tabs")
  private val DecryptDropped = Set("Parent")

  private def collectPages(doc: Doc, forExtraction: Boolean): Vector[SrcPage] = {
    val dropped = if (forExtraction) ExtractionDropped else DecryptDropped
    val out = Vector.newBuilder[SrcPage]
    doc.foreachPage { (node, page) =>
      val num = node match {
        case PRef(n, _) => n
        case _ => throw new IllegalStateException("page is not an indirect object")
      }
      out += SrcPage(num, page -- dropped)
    }
    out.result()
  }

  private def refsOf(o: PObj, acc: mutable.Set[Int]): Unit = o match {
    case PRef(n, _) => acc += n
    case PArr(items) => items.foreach(refsOf(_, acc))
    case PDict(m) => m.values.foreach(refsOf(_, acc))
    case PStream(PDict(m), _) => m.values.foreach(refsOf(_, acc))
    case _ => ()
  }

  /** Builds the output document: fresh Catalog + Pages, the kept pages, and
    * the transitive closure of everything they reference, renumbered.
    */
  private def emit(doc: Doc, kept: Seq[SrcPage], includeInfo: Boolean = false): Array[Byte] = {
    // decryptPdf (includeInfo) preserves the document XMP /Metadata stream
    // through the rebuilt Catalog; page extraction matches the reference's
    // fresh-PdfWriter behavior and drops it
    val rootMetadataNum: Option[Int] = doc.dict(doc.trailer("Root")).get("Metadata") match {
      case Some(PRef(n, _)) => Some(n)
      case _ => None
    }
    val keptMetadataNum: Option[Int] = if (includeInfo) rootMetadataNum else None
    // decryptPdf preserves the (decrypted) Info dict; page extraction
    // matches the reference's fresh-PdfWriter behavior and drops it
    val infoNum: Option[Int] = if (includeInfo) doc.trailer.get("Info") match {
      case Some(PRef(n, _)) => Some(n)
      case _ => None
    } else None
    // transitive closure over source object numbers
    val needed = mutable.LinkedHashSet[Int]()
    val queue = mutable.Queue[Int]()
    infoNum.foreach { n => needed.add(n); queue += n }
    keptMetadataNum.foreach { n => if (needed.add(n)) queue += n }
    kept.foreach { p =>
      val acc = mutable.Set[Int]()
      refsOf(PDict(p.dict), acc)
      acc.foreach { n => if (needed.add(n)) queue += n }
    }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      val acc = mutable.Set[Int]()
      refsOf(doc.rawObject(n), acc)
      acc.foreach { m => if (needed.add(m)) queue += m }
    }
    // new numbering: 1=Catalog, 2=Pages, 3..=kept pages, then the closure
    val renumber = mutable.Map[Int, Int]()
    kept.zipWithIndex.foreach { case (p, i) => renumber(p.num) = 3 + i }
    var next = 3 + kept.length
    needed.toSeq.sorted.foreach { n =>
      if (!renumber.contains(n)) { renumber(n) = next; next += 1 }
    }

    def nameEsc(s: String): String = s.flatMap { c =>
      if (c <= ' ' || c == '#' || "()<>[]{}/%".contains(c)) f"#${c.toInt}%02X" else c.toString
    }

    /** Serializes a copied object; `srcNum` drives string decryption. */
    def ser(o: PObj, srcNum: Int): String = o match {
      case PNull => "null"
      case PBool(b) => if (b) "true" else "false"
      case PNum(v) => Bin.num(v)
      case PName(n) => "/" + nameEsc(n)
      case PStr(b) => Bin.hex(doc.plainString(srcNum, b))
      case PRef(n, _) =>
        s"${renumber.getOrElse(n, throw new IllegalStateException(s"dangling ref $n"))} 0 R"
      case PArr(items) => items.map(ser(_, srcNum)).mkString("[ ", " ", " ]")
      case PDict(m) => serDict(m, srcNum)
      case s @ PStream(PDict(m), _) =>
        val payload = doc.plainStream(srcNum, s)
        val dict = m.updated("Length", PNum(payload.length.toDouble))
        serDict(dict, srcNum) + "\nstream\n" +
          new String(payload, StandardCharsets.ISO_8859_1) + "\nendstream"
    }
    def serDict(m: Map[String, PObj], srcNum: Int): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"/${nameEsc(k)} ${ser(v, srcNum)}" }
        .mkString("<< ", " ", " >>")

    val pdf = new Bin.PdfWriter
    val catMeta = keptMetadataNum.map(n => s" /Metadata ${renumber(n)} 0 R").getOrElse("")
    pdf.obj(1, s"<< /Type /Catalog /Pages 2 0 R$catMeta >>")
    pdf.obj(2, s"<< /Type /Pages /Count ${kept.length} /Kids [ ${kept.indices.map(i => s"${3 + i} 0 R").mkString(" ")} ] >>")
    kept.zipWithIndex.foreach { case (p, i) =>
      // Parent was dropped at collection; point it at the NEW pages node
      pdf.obj(3 + i, serDict(p.dict, p.num).stripSuffix(" >>") + " /Parent 2 0 R >>")
    }
    needed.toSeq.sorted.foreach { n =>
      if (renumber(n) >= 3 + kept.length) // not a kept page (those are emitted above)
        pdf.obj(renumber(n), ser(doc.rawObject(n), n))
    }
    pdf.finish(infoNum.map(n => s" /Info ${renumber(n)} 0 R").getOrElse(""))
  }
}
