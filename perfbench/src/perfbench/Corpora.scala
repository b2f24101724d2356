package perfbench

import graft.extract._
import graft.io.{Ingest, SyntheticDocs}
import graft.model.RawDoc

/** Seeded input generators for the workloads the engine's own
  * [[SyntheticDocs]] does not cover. Every document is a pure function of
  * (seed, index), like SyntheticDocs, so any partitioning gives the same
  * corpus.
  */
private object Rand {
  def mix(a: Long, b: Long): Long =
    SyntheticDocs.splitmix64(a ^ SyntheticDocs.splitmix64(b + 0x632be59bd9b4e019L))
  def rng(parts: Long*): SyntheticDocs.DocRng =
    new SyntheticDocs.DocRng(parts.foldLeft(0x9e3779b97f4a7c15L)(mix))
}

/** Byte-real containers of all 12 `*_bytes` kinds, built with the engine's
  * own writers and routed through [[Ingest.toRawDoc]] exactly as ingested
  * files are. Kind = index mod 12; sizes (paragraphs, pages, sheets,
  * slides, PDF font program) vary with the seed.
  */
object BinaryCorpus {
  val Kinds: Seq[String] = Seq("pdf_bytes", "docx_bytes", "pptx_bytes", "xlsx_bytes",
    "epub_bytes", "odt_bytes", "rtf_bytes", "doc_bytes", "ppt_bytes", "ods_bytes",
    "xls_bytes", "xlsb_bytes")

  private val Words: IndexedSeq[String] =
    ("alpha beta gamma delta table ledger river stone mountain window garden " +
      "report summary figure margin column section chapter harbor lantern meadow " +
      "signal engine carbon silver market ticket orchard valley canyon bridge " +
      "letter paper pencil office branch winter summer autumn spring forest").split(' ').toIndexedSeq

  def doc(seed: Long, i: Long): RawDoc = {
    val rng = Rand.rng(seed, 1L, i)
    def words(n: Int): String =
      (0 until n).map(_ => Words(rng.nextInt(Words.length))).mkString(" ")
    def sentence(): String = words(6 + rng.nextInt(12)).capitalize + "."
    def paras(n: Int): Seq[String] = (0 until n).map(_ => sentence())
    def rows(n: Int): Seq[Seq[String]] =
      Seq("Name", "Qty") +: (0 until n).map(r => Seq(words(2), (r * 7 + rng.nextInt(90)).toString))
    val title = s"${words(3).capitalize} $i"
    val nPages = 1 + rng.nextInt(3)
    val kind = Kinds((i % Kinds.size).toInt)
    val (ext, bytes, mime) = kind match {
      case "pdf_bytes" =>
        val pages = (1 to nPages).map(_ => paras(2 + rng.nextInt(4)))
        val pdf = (i / Kinds.size) % 4 match {
          case 0 => PdfText.buildTextPdf(pages)
          case 1 => PdfText.buildTextPdfTT(pages, unicodeCmap = false)
          case 2 => PdfText.buildTextPdfTT(pages, unicodeCmap = true)
          case _ => PdfText.buildTextPdfCFF(pages)
        }
        ("pdf", pdf, "")
      case "docx_bytes" =>
        import DocxExtract._
        val blocks = (1 to nPages).flatMap { p =>
          (if (p > 1) Seq(PageBreak) else Nil) ++
            Seq(Para(s"# ${words(3)}")) ++ paras(1 + rng.nextInt(3)).map(Para(_)) ++
            Seq(Para(s"- ${words(4)}"), Table(s"|K|V|\n|---|---|\n|${words(1)}|${rng.nextInt(99)}|"))
        }
        ("docx", buildDocx(title, blocks), "")
      case "pptx_bytes" =>
        val slides = (1 to nPages + 1).map(_ =>
          OfficeExtract.Slide(words(3).capitalize, paras(1 + rng.nextInt(3))))
        ("pptx", OfficeExtract.buildPptx(title, slides), "")
      case "xlsx_bytes" =>
        val sheets = (1 to nPages).map(s => (s"Sheet$s", rows(2 + rng.nextInt(6))))
        ("xlsx", OfficeExtract.buildXlsx(title, sheets), "")
      case "epub_bytes" =>
        val chapters = (1 to nPages).map { _ =>
          s"<html><body><h1>${words(3).capitalize}</h1>" +
            paras(2 + rng.nextInt(3)).map(p => s"<p>$p</p>").mkString + "</body></html>"
        }
        ("epub", EpubExtract.buildEpub(title, chapters), "")
      case "odt_bytes" =>
        import DocxExtract.{Para, Table}
        val blocks = Seq(Para(s"# ${words(3)}")) ++ paras(2 + rng.nextInt(4)).map(Para(_)) ++
          Seq(Para(s"- ${words(3)}"), Table(s"|K|V|\n|---|---|\n|${words(1)}|${rng.nextInt(99)}|"))
        ("odt", OdtExtract.buildOdt(title, blocks), "")
      case "rtf_bytes" =>
        val ps = paras(2 + rng.nextInt(5))
        val rtf = RtfExtract.buildRtf(title, ps, if (ps.size > 2) Set(2) else Set.empty)
        ("rtf", rtf.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), "")
      case "doc_bytes" =>
        val ps = paras(2 + rng.nextInt(5))
        ("doc", DocExtract.buildDoc(title, ps, if (ps.size > 2) Seq(2) else Nil), "")
      case "ppt_bytes" =>
        val slides = (1 to nPages + 1).map(_ => (words(3).capitalize, paras(1 + rng.nextInt(2))))
        ("ppt", PptExtract.buildPpt(title, slides, viaSlideListWithText = i % 2 == 0),
          "application/vnd.ms-powerpoint")
      case "ods_bytes" =>
        val sheets = (1 to nPages).map(s => (s"Calc$s", rows(2 + rng.nextInt(6))))
        ("ods", OdsExtract.buildOds(title, sheets), "")
      case "xls_bytes" | "xlsb_bytes" =>
        import XlsExtract.{XlsCell, XlsNum, XlsRkInt, XlsStr}
        val sheets = (1 to nPages).map { s =>
          (s"Data$s", Seq[Seq[XlsCell]](Seq(XlsStr("Name"), XlsStr("Qty"), XlsStr("Price"))) ++
            (0 until 2 + rng.nextInt(6)).map(_ => Seq[XlsCell](XlsStr(words(2)),
              XlsRkInt(rng.nextInt(500) - 50), XlsNum(rng.nextInt(1000) / 8.0))))
        }
        if (kind == "xls_bytes") ("xls", XlsExtract.buildXls(title, sheets, continueSplit = i % 2 == 0), "")
        else ("xlsb", XlsbExtract.buildXlsb(title, sheets), "")
    }
    Ingest.toRawDoc(f"bin/$i%07d.$ext", bytes, mime)
  }
}

/** Near-duplicate text corpus with planted structure, laid out by index:
  *
  *  - chains: `ChainLen` docs each, every step two word substitutions away
  *    from the previous one, so neighbours pair up but the ends do not and
  *    connected components needs ~log2(ChainLen) pointer-jump rounds;
  *  - exact-duplicate groups of 3 identical texts;
  *  - near-duplicate groups of 3, each member one substitution from a base;
  *  - the rest unique.
  *
  * Texts are `DocWords` words over a seeded 5,000-word vocabulary, so
  * unrelated docs share no 3-shingles. Doc ids start with a seeded hash, so
  * id order is unrelated to chain order.
  */
object DedupCorpus {
  val DocWords = 60
  val ChainLen = 4
  val GroupSize = 3
  private val Vocab = 5000

  final case class Layout(n: Long) {
    val chains: Long = n / 400
    val exactGroups: Long = n / 40
    val nearGroups: Long = n / 40
    val chainEnd: Long = chains * ChainLen
    val exactEnd: Long = chainEnd + exactGroups * GroupSize
    val nearEnd: Long = exactEnd + nearGroups * GroupSize
    def duplicateRate: Double = nearEnd.toDouble / n
  }

  def docId(seed: Long, i: Long): String = f"${Rand.mix(seed, i) & 0xffffffL}%06x-$i%07d"

  private def word(seed: Long, k: Int): String = {
    val rng = Rand.rng(seed, 2L, k)
    (0 until 4 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
  }

  private def base(seed: Long, role: Long, g: Long): Array[Int] = {
    val rng = Rand.rng(seed, role, g)
    Array.fill(DocWords)(rng.nextInt(Vocab))
  }

  private def mutate(ws: Array[Int], rng: SyntheticDocs.DocRng, k: Int): Array[Int] = {
    val out = ws.clone()
    (0 until k).foreach(_ => out(rng.nextInt(out.length)) = rng.nextInt(Vocab))
    out
  }

  def text(seed: Long, n: Long, i: Long): String = {
    val l = Layout(n)
    val ws =
      if (i < l.chainEnd) {
        val (c, step) = (i / ChainLen, i % ChainLen)
        (1L to step).foldLeft(base(seed, 10, c))((w, t) => mutate(w, Rand.rng(seed, 11, c, t), 2))
      } else if (i < l.exactEnd) base(seed, 20, (i - l.chainEnd) / GroupSize)
      else if (i < l.nearEnd) {
        val j = i - l.exactEnd
        mutate(base(seed, 30, j / GroupSize), Rand.rng(seed, 31, j), 1)
      } else base(seed, 40, i)
    ws.map(word(seed, _)).mkString(" ").capitalize + "."
  }

  /** Doc ids of each planted exact-duplicate group. */
  def exactGroups(seed: Long, n: Long): Seq[Seq[String]] = {
    val l = Layout(n)
    (0L until l.exactGroups).map(g =>
      (0 until GroupSize).map(m => docId(seed, l.chainEnd + g * GroupSize + m)))
  }
}
