package graft

import graft.chunk.Chunkers
import graft.extract.HtmlExtract
import graft.md.Markdown
import graft.model.{Doc, Span, SpanKind}
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property suites (run by sbt's native ScalaCheck support). */
object MarkdownProps extends Properties("Markdown") {

  private val word: Gen[String] = Gen.oneOf(
    "lorem", "ipsum", "data", "spark", "span", "table", "row", "alpha",
    "beta", "gamma", "query", "page", "chunk", "text42")

  private val textLine: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  /** Canonical text block: 1-3 non-blank lines, none marker-shaped. */
  private val textBlock: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, textLine)).map(_.mkString("\n"))

  private val genSpans: Gen[List[Span]] = for {
    n <- Gen.chooseNum(1, 25)
    kinds <- Gen.listOfN(n, Gen.frequency(
      6 -> SpanKind.Text, 2 -> SpanKind.PageBreak, 2 -> SpanKind.Image))
    blocks <- Gen.listOfN(n, textBlock)
  } yield {
    var page = 0
    var img = 0
    kinds.zip(blocks).zipWithIndex.map {
      case ((SpanKind.PageBreak, _), i) =>
        page += 1; Markdown.pageBreakSpan(page, i)
      case ((SpanKind.Image, _), i) =>
        img += 1; Span(SpanKind.Image, s"img-${img - 1}", s"img-${img - 1}.png", i)
      case ((_, b), i) => Span(SpanKind.Text, b, "", i)
    }
  }

  property("render → parse round-trips any canonical span stream") =
    Prop.forAll(genSpans) { spans =>
      Markdown.parse(Markdown.render(spans)) == spans
    }

  property("pageCount equals the number of page-break spans (min 1)") =
    Prop.forAll(genSpans) { spans =>
      val n = spans.count(_.kind == SpanKind.PageBreak)
      Markdown.pageCount(spans) == math.max(n, 1)
    }

  property("parse offsets are always contiguous from 0") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      val spans = Markdown.parse(s)
      spans.map(_.offset) == spans.indices
    }

  /** Canonical stream with page breaks renumbered 1..N (what a converter
    * output stream looks like) for dialect round-trips.
    */
  private val genPagedSpans: Gen[List[Span]] = genSpans.map { spans =>
    // dialect round-trips look like real converter output: a leading page-1
    // break, inner breaks renumbered 2..N
    var page = 1
    val inner = spans.map {
      case s if s.kind == SpanKind.PageBreak =>
        page += 1
        Markdown.pageBreakSpan(page, s.offset)
      case s => s
    }
    (Markdown.pageBreakSpan(1, 0) +: inner).zipWithIndex.map { case (s, i) => s.copy(offset = i) }
  }

  property("azure dialect: inverse-transform → normalize round-trips any stream") =
    Prop.forAll(genPagedSpans) { spans =>
      // guard against shrinker outputs outside the generator's support
      // (azure semantics require the leading page-1 break)
      if (spans.isEmpty || spans.head.kind != SpanKind.PageBreak ||
          spans.map(_.offset) != spans.indices) true
      else {
      // render canonical, dirty into azure raw, re-normalize
      val md = Markdown.render(spans)
      val MarkerRe = """<!-- docler:page_break \{"next_page":(\d+)\} -->""".r
      var raw = MarkerRe.replaceAllIn(md,
        m => if (m.group(1).toInt == 1) "" else "<!-- PageBreak -->")
      raw = """!\[[^\]]*\]\([^)]*\)""".r.replaceAllIn(raw, "<figure>fig</figure>")
      val nFigs = spans.count(_.kind == SpanKind.Image)
      val figs = (0 until nFigs).map(i =>
        graft.extract.NormImage(s"img-$i", s"img-$i.png", "image/png", ""))
      val normalized = graft.extract.Normalize.azure(raw, figs)
      // image filenames become img-K.png regardless of the original ext
      val expected = {
        var k = -1
        spans.map {
          case s if s.kind == SpanKind.Image =>
            k += 1; Span(SpanKind.Image, s"img-$k", s"img-$k.png", s.offset)
          case s => s
        }
      }
      normalized.spans == expected
      }
    }
}

object ChunkerProps extends Properties("Chunkers") {

  private val block: Gen[String] =
    Gen.chooseNum(2, 40).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "words"))).map(_.mkString(" "))

  private val genDoc: Gen[Doc] = for {
    n <- Gen.chooseNum(1, 12)
    blocks <- Gen.listOfN(n, block)
    headers <- Gen.listOfN(n, Gen.oneOf(true, false, false))
  } yield {
    var img = 0
    val spans = blocks.zip(headers).zipWithIndex.flatMap { case ((b, isH), i) =>
      val t = if (isH) s"# Header $i" else b
      Seq(Span(SpanKind.Text, t, "", 0))
    }.zipWithIndex.map { case (s, i) => s.copy(offset = i) }
    Doc(s"doc-prop", spans)
  }

  property("every media_ref a chunk carries is referenced in its content") =
    Prop.forAll(genDoc, Gen.chooseNum(60, 800)) { (doc, maxSize) =>
      Chunkers.markdownChunks(doc, maxChunkSize = maxSize, chunkOverlap = 10)
        .forall(c => c.media_refs.forall(r => c.content.contains(s"($r)")))
    }

  property("chunk indices are contiguous from 0") =
    Prop.forAll(genDoc, Gen.chooseNum(60, 800)) { (doc, maxSize) =>
      val idx = Chunkers.markdownChunks(doc, maxChunkSize = maxSize).map(_.chunk_index)
      idx == idx.indices
    }

  property("token chunker line ranges cover the document without gaps beyond overlap") =
    Prop.forAll(Gen.chooseNum(5, 400), Gen.chooseNum(40, 300)) { (nLines, budget) =>
      val content = (1 to nLines).map(i => s"line $i content words").mkString("\n")
      val doc = Doc("d", Seq(Span(SpanKind.Text, content, "", 0)))
      val chunks = Chunkers.tokenAwareChunks(doc, maxTokensPerChunk = budget, chunkOverlapLines = 5)
      val covered = chunks.flatMap(c => c.start_line to c.end_line).toSet
      chunks.nonEmpty && (1 to nLines).forall(covered.contains)
    }

  property("countTokens is stable and additive-ish under concat with space") =
    Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a, b) =>
      val s = Chunkers.countTokens(a + " " + b)
      s == Chunkers.countTokens(a) + Chunkers.countTokens(b)
    }
}

object HtmlFuzzProps extends Properties("HtmlExtract") {

  private val tag: Gen[String] = Gen.oneOf(
    "p", "div", "span", "a", "li", "ul", "table", "tr", "td", "h1", "h2",
    "nav", "footer", "img", "script", "style", "b")

  private val fragment: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("text", "words", "here", "fish & chips", "<", "a&b"))).map(_.mkString(" ")),
    2 -> tag.map(t => s"<$t>"),
    2 -> tag.map(t => s"</$t>"),
    1 -> tag.map(t => s"<$t class='x' href='/y'>"),
    1 -> Gen.const("<!-- comment -->"),
    1 -> Gen.const("<img src='a.png'>"))

  /** Malformed tag soup must never crash and must stay deterministic. */
  property("never crashes on malformed tag soup; deterministic; ordered offsets") =
    Prop.forAll(Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, fragment))) { frags =>
      val html = frags.mkString(" ")
      val a = HtmlExtract.extract(html)
      val b = HtmlExtract.extract(html)
      a == b && a.spans.map(_.offset) == a.spans.indices
    }

  property("output spans re-render into parseable canonical markdown") =
    Prop.forAll(Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, fragment))) { frags =>
      val spans = HtmlExtract.extract(frags.mkString(" ")).spans
      // image spans round-trip; text blocks may contain marker-ambiguous
      // content from the fuzzer, so only check structural sanity
      spans.forall(s => s.kind != SpanKind.Image || s.media_ref.nonEmpty)
    }
}

/** Round-2 primitives: portable h60 and glob translation. */
object PortableProps extends org.scalacheck.Properties("Portable") {
  import org.scalacheck.{Gen, Prop}

  private val asciiString = Gen.chooseNum(0, 40)
    .flatMap(n => Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar))).map(_.mkString)

  /** h60 == the md5-hex-prefix integer the DuckDB oracle computes. */
  property("h60 equals BigInteger(md5-hex[0:15], 16) and stays in [0, 2^60)") =
    Prop.forAll(asciiString) { s =>
      val h = graft.functions.PortableHash.h60(s)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      h == new java.math.BigInteger(md.substring(0, 15), 16).longValueExact() &&
        h >= 0L && h < (1L << 60)
    }

  /** Shingle hashing == h60 of the space-joined word windows. */
  property("Md5ShingleH60 equals h60 over split-join shingles") =
    Prop.forAll(Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("alpha", "beta", "gamma", "x1", "77"))), Gen.chooseNum(1, 3)) { (words, n) =>
      val text = words.mkString(" ")
      val got = graft.functions.Md5ShingleH60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), n, 0).toLongArray.toSeq
      val expect = words.sliding(n).filter(_.size == n)
        .map(w => graft.functions.PortableHash.h60(w.mkString(" "))).toSeq
      got == (if (words.size < n) Nil else expect)
    }

  private val globSafeSegment = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
    Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('.', '-', '_')))).map(_.mkString)

  /** A glob without metacharacters matches exactly itself. */
  property("literal glob matches itself and nothing longer") =
    Prop.forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, globSafeSegment))) { segs =>
      val path = segs.mkString("/")
      val re = graft.ops.DocOps.globToRegex(path)
      path.matches(re) && !(path + "x").matches(re) && !("x/" + path).matches(re)
    }

  /** "**\/name" finds the name at any depth; "*" never crosses a slash. */
  property("** crosses directories, * does not") =
    Prop.forAll(Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, globSafeSegment)),
      globSafeSegment) { (dirs, name) =>
      val path = (dirs :+ name).mkString("/")
      path.matches(graft.ops.DocOps.globToRegex(s"**/$name")) &&
        (dirs.isEmpty || !path.matches(graft.ops.DocOps.globToRegex("*")))
    }
}

/** globToRegex checked against a SECOND reference implementation — the JDK's
  * `FileSystems.getPathMatcher("glob:…")` — on the semantic subset the two
  * share. Documented divergences excluded from generation: `**&#47;` (ours is
  * pathlib-style "zero or more directories", Java requires the literal
  * slash), `{a,b}` alternation (fnmatch has none; we escape braces), and
  * `[]a]` (']' first is a literal member in fnmatch; the JDK rejects it).
  */
object GlobProps extends Properties("GlobToRegex") {
  import org.scalacheck.Gen

  private val token: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("a", "b", "ab", "ba", "abc", "x", "a.b", "a-b"),
    2 -> Gen.const("*"),
    2 -> Gen.const("?"),
    // "[]a]" (']' first = literal) is fnmatch-only: the JDK glob parser
    // rejects it, so it stays out of the shared-subset generator (our
    // handling is covered by the DocOpsSpec unit cases)
    1 -> Gen.oneOf("[ab]", "[!b]", "[a-c]", "[-b]", "[!-b]"))

  private val segment: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, token)).map(_.mkString)

  private val pattern: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, segment)).map(_.mkString("/"))
      // two adjacent '*' tokens would concatenate into '**', whose semantics
      // diverge by design (pathlib-style vs JDK) — keep it out of the
      // shared-subset generator
      .retryUntil(p => !p.contains("**"), 100)

  private val pathSeg: Gen[String] = Gen.oneOf("a", "b", "ab", "abc", "x", "a.b", "a-b", "c")
  private val path: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, pathSeg)).map(_.mkString("/"))

  property("matches the JDK PathMatcher on the shared glob subset") =
    Prop.forAllNoShrink(pattern, path) { (pat, p) =>
      val ours = graft.ops.DocOps.globToRegex(pat).r.pattern.matcher(p).matches()
      val jdk = java.nio.file.FileSystems.getDefault
        .getPathMatcher("glob:" + pat)
        .matches(java.nio.file.Paths.get(p))
      ours == jdk
    }
}

/** Writer→parser round-trip over the PDF container family: page counts,
  * dims, Info strings (incl. UTF-16 forms and PDF-delimiter characters),
  * and every supported encryption mode. The writer and parser share no
  * serialization code — buildPdf emits text, the parser lexes bytes — so
  * agreement here exercises the full §7.3/§7.5 loop.
  */
object PdfProps extends Properties("PdfBytes") {
  import graft.extract.{PdfBytes, PdfRewrite}
  import org.scalacheck.Gen

  private val dim: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(1, 2000).map(_.toDouble),
    Gen.chooseNum(1, 2000000).map(_ / 1000.0)) // sub-point reals
  private val pageGen: Gen[(Double, Double)] = for { w <- dim; h <- dim } yield (w, h)
  private val pagesGen: Gen[List[(Double, Double)]] =
    Gen.chooseNum(1, 9).flatMap(n => Gen.listOfN(n, pageGen))
  private val textGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(40)),
    Gen.oneOf("a(b)", "back\\slash", "Grüße", "中文 text", "", "emoji 🙂"))
  private val encGen: Gen[Option[(String, Int)]] = Gen.oneOf(
    Gen.const(None),
    for { pw <- Gen.oneOf("", "pw", "hunter2"); r <- Gen.oneOf(2, 3, 4) } yield Some((pw, r)))

  property("buildPdf → pdfInfo recovers pages/dims/title/author in every mode") =
    Prop.forAllNoShrink(pagesGen, textGen, textGen, encGen) { (pages, title, author, enc) =>
      val bytes = PdfBytes.buildPdf(pages, title, author, enc)
      val pw = enc.map(_._1)
      // locked docs (non-empty pw, none supplied) are covered by the spec;
      // here we always open with the right password
      val info = PdfBytes.pdfInfo(bytes, pw.filter(_.nonEmpty)).fold(
        e => throw new IllegalStateException(e), identity)
      info.pageCount == pages.length &&
        info.pageDims == pages.map { case (w, h) => PdfBytes.PageDim(w, h) } &&
        info.title == title && info.author == author && !info.isEncrypted
    }

  property("extractPages keeps exactly the selected dims in keep order") =
    Prop.forAllNoShrink(pagesGen, Gen.listOf(Gen.chooseNum(-2, 12))) { (pages, keep) =>
      val src = PdfBytes.buildPdf(pages, "t", "a")
      val valid = keep.filter(i => i >= 0 && i < pages.length)
      val sub = PdfRewrite.extractPages(src, keep).fold(
        e => throw new IllegalStateException(e), identity)
      val info = PdfBytes.pdfInfo(sub).fold(e => throw new IllegalStateException(e), identity)
      info.pageDims == valid.map(i => PdfBytes.PageDim(pages(i)._1, pages(i)._2))
    }

  property("decryptPdf output opens without a password and preserves Info") =
    Prop.forAllNoShrink(pagesGen, textGen, Gen.oneOf(2, 3, 4)) { (pages, title, r) =>
      val enc = PdfBytes.buildPdf(pages, title, "au", Some(("pw", r)))
      val dec = PdfRewrite.decryptPdf(enc, "pw").fold(
        e => throw new IllegalStateException(e), identity)
      val info = PdfBytes.pdfInfo(dec).fold(e => throw new IllegalStateException(e), identity)
      !info.isEncrypted && info.pageCount == pages.length && info.title == title
    }
}
