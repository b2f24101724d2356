package graft

import graft.chunk.Chunkers
import graft.extract.HtmlExtract
import graft.md.Markdown
import graft.model.{Chunk, Doc, Span, SpanKind}
import graft.ops.DocOps
import graft.pipeline.Pipeline
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Regressions for the round-1 VERDICT/ADVICE findings addressed in round 2. */
class Regression2Spec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  test("minhashPairs: shingle-less short docs do not flood the band join") {
    import spark.implicits._
    // 30 docs with < shingleN words would all share the K×(-1) sentinel
    // signature — previously one hot band bucket with 30×29/2 candidates
    val docs = (1 to 30).map(i => (i.toLong, "just two")) :+ (99L, "enough words to form a shingle here")
    val out = graft.ops.Dedup.minhashPairs(docs.toDF("doc_id", "text"), threshold = 0.1)
    assert(out.count() == 0)
  }

  test("jaccardPairs DF-cap drops ubiquitous shingles from index AND set sizes") {
    import spark.implicits._
    // every doc shares the hot prefix "the quick brown fox" (3 hot shingles,
    // df = 40); pairs of docs additionally share a unique suffix shingle set
    val docs = (0 until 40).map { i =>
      val grp = i / 2 // doc pairs 0-1, 2-3, … share the suffix
      (i.toLong, s"the quick brown fox unique$grp suffix$grp tail$grp")
    }.toDF("doc_id", "text")
    // uncapped: hot shingles contribute O(n²) candidate rows and every doc
    // pair shares ≥3 shingles
    val uncapped = graft.ops.Dedup.jaccardPairs(docs, threshold = 0.01, shingleN = 3)
    assert(uncapped.count() == 40L * 39 / 2)
    // capped at df>10: the 3 hot shingles drop; only the suffix-sharing pairs
    // remain, with jaccard computed over the capped universe
    val capped = graft.ops.Dedup.jaccardPairs(docs, threshold = 0.01, shingleN = 3, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.length == 20, capped.toSeq)
    capped.foreach { case (a, b, j) =>
      assert(b == a + 1 && a % 2 == 0, s"unexpected pair ($a,$b)")
      // each doc keeps 4 sub-cap shingles ("fox unique_g suffix_g" …), all
      // shared within the pair → jaccard 1.0 over the capped universe
      assert(j == 1.0, s"($a,$b) jaccard $j")
    }
  }

  test("Md5ShingleH60 tokenizer agrees with Java \\s on vertical-tab and form-feed") {
    def toks(s: String) = graft.functions.Md5ShingleH60.compute(UTF8String.fromString(s), 1, 0).toLongArray.toSeq
    assert(toks("ab\fc") == toks("a b c"))
    assert(toks("ab\fc").length == 3)
  }

  test("chunkers split \\r\\n and \\r content like Python splitlines") {
    val unix = "# H\n\nline one\nline two\nline three"
    val dos = unix.replace("\n", "\r\n")
    val mac = unix.replace("\n", "\r")
    def chunksOf(text: String) =
      Chunkers.tokenAwareChunks(Doc("d", Seq(Span(SpanKind.Text, text, "", 0))), 10, 1)
        .map(c => (c.start_line, c.end_line, c.token_count))
    assert(chunksOf(dos) == chunksOf(unix))
    assert(chunksOf(mac) == chunksOf(unix))
    assert(Chunkers.splitByHeaders(dos).length == Chunkers.splitByHeaders(unix).length)
  }

  test("createChunkBoundary carries keywords AND extra_data (chunkers/base.py:131-135)") {
    val b = Markdown.createChunkBoundary(3, Seq("alpha", "beta"),
      Seq("source" -> "unit", "topic" -> "q\"uote"))
    assert(b == """<!-- docler:chunk_boundary {"chunk_id":3,"keywords":["alpha","beta"],"source":"unit","topic":"q\"uote"} -->""")
    // structural keys are never duplicated into the payload
    val b2 = Markdown.createChunkBoundary(1, Nil, Seq("chunk_id" -> "9", "x" -> "y"))
    assert(b2 == """<!-- docler:chunk_boundary {"chunk_id":1,"x":"y"} -->""")
    // boundary comments round-trip through the markdown parser
    val spans = Markdown.parse("text before\n\n" + b + "\n\ntext after")
    assert(spans.map(_.kind) == Seq(SpanKind.Text, SpanKind.ChunkBoundary, SpanKind.Text))
    assert(spans(1).text.contains("\"topic\":\"q\\\"uote\""))
  }

  test("addChunkBoundaries injects per-chunk keywords/extra_data payloads") {
    val content = "l1\nl2\nl3\nl4"
    val chunks = Seq(
      Chunk("d", 0, "l1\nl2", Nil, start_line = 1, end_line = 2,
        keywords = Seq("k0"), extra_data = Map("src" -> "a")),
      Chunk("d", 1, "l3\nl4", Nil, start_line = 3, end_line = 4,
        extra_data = Map("src" -> "b")))
    val out = Chunkers.addChunkBoundaries(content, chunks)
    assert(out.contains("""{"chunk_id":0,"keywords":["k0"],"src":"a"}"""))
    assert(out.contains("""{"chunk_id":1,"src":"b"}"""))
  }

  test("HtmlExtract: omitted </caption> closes implicitly at the row (HTML5)") {
    // caption end tag legally omitted: closes at <tr>; inline markup inside
    // the caption does NOT close it
    val html = "<body><table><caption>Table <b>1</b> overview" +
      "<tr><td>a</td><td>b</td></tr></table>" +
      "<table><tr><td>second</td><td>table</td></tr></table></body>"
    val texts = graft.extract.HtmlExtract.extract(html).spans.map(_.text)
    assert(texts.contains("Table 1 overview"), texts)
    assert(texts.count(_.startsWith("| ")) == 2, texts) // both tables intact
    // unclosed caption inside an unclosed-at-</table> case
    val t2 = graft.extract.HtmlExtract.extract(
      "<body><p>Intro paragraph long enough to keep.</p>" +
        "<table><caption>Lonely caption here</table></body>").spans.map(_.text)
    assert(t2.contains("Lonely caption here"), t2)
  }

  test("HtmlExtract: <caption> text surfaces as a block before the table") {
    val html = "<body><p>Intro paragraph long enough to keep.</p>" +
      "<table><caption>Table 1: quarterly results overview</caption>" +
      "<tr><th>q</th><th>rev</th></tr><tr><td>q1</td><td>10</td></tr></table></body>"
    val texts = HtmlExtract.extract(html).spans.map(_.text)
    val capIdx = texts.indexWhere(_ == "Table 1: quarterly results overview")
    val tblIdx = texts.indexWhere(_.startsWith("| q | rev |"))
    assert(capIdx >= 0, texts)
    assert(tblIdx > capIdx, texts)
  }

  test("HtmlExtract title: first <title> only, svg titles excluded, unclosed title recovers") {
    import graft.extract.HtmlExtract.extract
    // inline-SVG accessibility titles must not pollute the document title
    val svg = extract("<html><head><title>Report</title></head><body>" +
      "<svg><title>menu icon</title><path d='m0 0'/></svg>" +
      "<p>Body paragraph long enough to keep.</p></body></html>")
    assert(svg.title == "Report")
    assert(svg.spans.exists(_.text == "Body paragraph long enough to keep."))
    // a second <title> later in the document does not override the first
    assert(extract("<head><title>First</title></head><body><title>Second</title>" +
      "<p>Content body long enough.</p></body>").title == "First")
    // malformed unclosed <title>: capture stops at the next tag instead of
    // swallowing the whole body into the title
    val unclosed = extract("<html><head><title>Broken" +
      "</head><body><p>The body text must survive this malformed head.</p></body></html>")
    assert(unclosed.title == "Broken")
    assert(unclosed.spans.exists(_.text == "The body text must survive this malformed head."))
  }

  test("chunk_boundary payload values cannot break out of the comment wrapper") {
    val b = Markdown.createChunkBoundary(0, Nil, Seq("note" -> "a-->b", "nl" -> "x\ny"))
    assert(!b.drop(4).dropRight(3).contains("-->"), b) // no early comment terminator
    assert(!b.contains("\n"))
    // still parses as a single boundary span
    val spans = Markdown.parse("before\n\n" + b + "\n\nafter")
    assert(spans.map(_.kind) == Seq(SpanKind.Text, SpanKind.ChunkBoundary, SpanKind.Text))
    assert(spans(1).text.contains("\\u003e") && spans(1).text.contains("\\u000a"))
  }

  test("PortableHash.h60 matches md5-hex-prefix parse (python/DuckDB cross-check)") {
    import graft.functions.{Md5ShingleH60, PortableHash}
    // int(hashlib.md5(s).hexdigest()[:15], 16) — values computed externally
    assert(PortableHash.h60("hello") == 419982666956583591L)
    assert(PortableHash.h60("the quick brown") == 846626497777792448L)
    assert(PortableHash.minhashParams(1)._1(0) == 1274344103L)
    assert(PortableHash.minhashParams(1)._2(0) == 1850794318L)
    assert(PortableHash.hyperplaneComponent(0, 0) == 1.0)  // even parity → +1
    assert(PortableHash.hyperplaneComponent(1, 3) == -1.0) // odd parity → -1
    // the one-pass shingle tokenizer hashes the ' '-joined word windows
    val hs = Md5ShingleH60.compute(UTF8String.fromString("the  quick\tbrown fox"), 3, 0).toLongArray.toSeq
    assert(hs == Seq(PortableHash.h60("the quick brown"), PortableHash.h60("quick brown fox")))
    // maxTokens prefix
    assert(Md5ShingleH60.compute(UTF8String.fromString("a b c d"), 1, 2).toLongArray.toSeq ==
      Seq(PortableHash.h60("a"), PortableHash.h60("b")))
    assert(Md5ShingleH60.compute(UTF8String.fromString(""), 1, 0).toLongArray.isEmpty)
  }

  test("MIME table matches the reference's full EXT_TO_MIME_TYPE (mime_types.py:124-167)") {
    assert(DocOps.ExtToMime.size == 41)
    assert(DocOps.ExtToMime("org") == "text/x-org")
    assert(DocOps.ExtToMime("ipynb") == "application/x-ipynb+json")
    assert(DocOps.ExtToMime("xlsb") == "application/vnd.ms-excel.sheet.binary.macroEnabled.12")
    assert(DocOps.ExtToMime("doc") == "application/msword")
    assert(DocOps.ExtToMime("tex") == "application/x-latex")
    // SUPPORTED union (mime_types.py:169-175): spot-size + membership
    assert(DocOps.SupportedMimeTypes.contains("application/pdf"))
    assert(DocOps.SupportedMimeTypes.contains("text/x-rst"))
    assert(DocOps.SupportedMimeTypes.contains("image/x-portable-graymap"))
    assert(!DocOps.SupportedMimeTypes.contains("audio/mpeg")) // audio not in SUPPORTED
    assert(DocOps.SupportedMimeTypes.size == 59)
    assert(DocOps.ImageMimeToExt("image/pjpeg") == "jpg")
  }
}
