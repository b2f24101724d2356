package graft

import graft.io.Ingest
import graft.model.SpanKind
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Real-file ingestion: directory of files → RawDoc rows → extraction —
  * the reference's convert_directory entry point end-to-end.
  */
class IngestSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  test("detectDialect routes by marker grammar") {
    assert(Ingest.detectDialect("intro\n\n<!-- PageBreak -->\n\nbody") == "md_azure")
    assert(Ingest.detectDialect("a\n\n<!-- PageBreak -->\n\n<!-- image -->\n\nb") == "md_docling")
    // a single-page docling export has image placeholders but no PageBreak
    assert(Ingest.detectDialect("Intro text\n\n<!-- image -->\n\nMore text") == "md_docling")
    assert(Ingest.detectDialect("<!-- Slide number: 2 -->\n\ndeck") == "md_slides")
    assert(Ingest.detectDialect("page one\n\n{0}------------\n\npage two") == "md_datalab")
    // near-miss: a {N}---- line WITHOUT blank neighbors is not a datalab
    // marker (the normalizer would refuse to rewrite it) → stays plain and
    // its image refs are NOT rewritten into fabricated sidecars
    assert(Ingest.detectDialect("inventory:\n{3}----\nsee ![d](assets/d.png)") == "md_plain")
    assert(Ingest.detectDialect("text ![d](data:image/png;base64,QUJD) tail") == "md_datauri")
    assert(Ingest.detectDialect("# Just markdown\n\nwith paragraphs") == "md_plain")
  }

  test("toRawDoc routes html/markdown/unsupported; MIME rule matches guessMime") {
    val html = Ingest.toRawDoc("a/page.html", "<html><body><p>x</p></body></html>".getBytes("UTF-8"))
    assert(html.payload_kind == "html" && html.mime_type == "text/html")
    val md = Ingest.toRawDoc("b/notes.md", "# T\n\nbody".getBytes("UTF-8"))
    assert(md.payload_kind == "md_plain" && md.mime_type == "text/markdown")
    val pdf = Ingest.toRawDoc("c/file.pdf", Array[Byte](0x25, 0x50, 0x44, 0x46))
    assert(pdf.payload_kind == "pdf_bytes") // container route (PdfBytes)
    val exe = Ingest.toRawDoc("c/tool.exe", Array[Byte](0x4d, 0x5a))
    assert(exe.payload_kind == "unsupported:application/octet-stream")
    // guessMime parity on the edge shapes
    assert(Ingest.mimeOf("notes.md.") == "application/octet-stream")
    assert(Ingest.mimeOf("v1.2/README") == "application/octet-stream")
    assert(Ingest.mimeOf("A/B.HTML") == "text/html")
  }

  test("ingested docs assemble title=stem and source_path=relative path") {
    val out = Pipeline.extractOne(Ingest.toRawDoc("reports/q1.md",
      "# Q1\n\nbody text".getBytes("UTF-8")))
    assert(out.failure == "")
    assert(out.title == "q1")                 // filename stem (base.py:285)
    assert(out.source_path == "reports/q1.md") // relative path, no synthetic://
  }

  test("detected dialects reproduce the generator's expected spans (raw-markdown kinds)") {
    // the ingestion path sees only file CONTENT: for every generator doc
    // whose payload is a raw markdown string, routing by detectDialect must
    // extract the same spans as routing by the true kind — OR fall into the
    // documented SAFE ambiguity: a single-page export with no page-break
    // markers is indistinguishable from plain markdown, and md_plain
    // preserves its content verbatim (every expected text block survives;
    // figure blocks stay as literal text rather than being replaced by
    // phantom image refs; only the leading page-1 marker is absent).
    val mdKinds = Set("md_azure", "md_datalab", "md_slides", "md_docling", "md_datauri")
    val gens = (0L until 800L).map(i => graft.io.SyntheticDocs.generate(seed = 42, i))
      .filter(g => mdKinds(g.raw.payload_kind))
    assert(gens.map(_.raw.payload_kind).toSet == mdKinds) // all kinds sampled
    gens.foreach { g =>
      val detected = Ingest.detectDialect(g.raw.raw)
      val spans = graft.extract.Normalize.dialect(detected, g.raw.raw, Nil).spans
      def strip(ss: Seq[graft.model.Span]) = ss.map(s => (s.kind, s.text, s.media_ref))
      val exact = spans == g.expected ||
        (g.expected.headOption.exists(_.kind == SpanKind.PageBreak) &&
          strip(g.expected.tail) == strip(spans))
      val safeAmbiguity = detected == "md_plain" &&
        g.expected.count(_.kind == SpanKind.PageBreak) <= 1 && {
          // verbatim preservation: every expected text block survives
          val plainTexts = spans.map(_.text).toSet
          g.expected.filter(_.kind == SpanKind.Text).forall(s => plainTexts(s.text))
        }
      assert(exact || safeAmbiguity,
        s"${g.raw.doc_id} (${g.raw.payload_kind} detected as $detected)")
    }
  }

  test("directory of real files → extraction, failures in the lineage channel") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest")
    def write(rel: String, content: String): Unit = {
      val p = base.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    write("site/index.html",
      "<html><head><title>Site</title></head><body><nav><a href='/'>x</a></nav>" +
        "<article><h1>Hello</h1><p>Real page body with enough text to keep.</p></article></body></html>")
    write("reports/q1.md", "# Q1 report\n\nRevenue paragraph here.\n\n<!-- PageBreak -->\n\nPage two text.")
    write("reports/deck.md", "<!-- Slide number: 1 -->\n\nSlide one text.\n\n<!-- Slide number: 2 -->\n\nSlide two.")
    write("reports/skip.log", "not a document")
    write("archive/sub/hidden.md", "# excluded\n\nvia exclude pattern")
    // an unsupported binary format: ingested, then fails in extraction
    java.nio.file.Files.createDirectories(base.resolve("bin"))
    java.nio.file.Files.write(base.resolve("bin/scan.pdf"), Array[Byte](0x25, 0x50, 0x44, 0x46, 0x2d))

    val raw = Ingest.fromDirectory(spark, base.toString, pattern = "**/*",
      exclude = Seq("archive/**"))
    val out = Pipeline.extract(raw).collect().map(e => e.doc_id -> e).toMap

    assert(out.keySet == Set("site/index.html", "reports/q1.md", "reports/deck.md", "bin/scan.pdf"))
    // HTML path: boilerplate stripped, title captured into the assembly
    val site = out("site/index.html")
    assert(site.failure == "" && site.title == "Site")
    assert(site.spans.exists(_.text == "# Hello"))
    assert(!site.spans.exists(_.text.contains("nav")))
    // azure-dialect markdown: PageBreak renumbered with the leading page-1
    val q1 = out("reports/q1.md")
    assert(q1.failure == "" && q1.page_count == 2)
    assert(q1.spans.head.kind == SpanKind.PageBreak)
    // slides dialect
    assert(out("reports/deck.md").spans.count(_.kind == SpanKind.PageBreak) == 2)
    // a CORRUPT pdf surfaces as a parse-error failure row, not a crash
    // (real PDFs take the PdfBytes container route — GraftApiSpec covers it)
    val pdf = out("bin/scan.pdf")
    assert(pdf.failure.contains("pdf_parse_error"), pdf.failure)
  }

  test("distributed listing: top-level files, maxDepth pruning, single-file base") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest2")
    def write(rel: String, content: String): Unit = {
      val p = base.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    write("top.md", "# Top level file")
    write("a/one.md", "# Depth one")
    write("a/b/two.md", "# Depth two")
    write("a/b/c/three.md", "# Depth three (pruned)")

    // maxDepth=2: rel-path separator count ≤ 2 → a/b/two.md stays,
    // a/b/c/three.md is pruned (and its directory never listed)
    val ids = Ingest.fromDirectory(spark, base.toString, maxDepth = 2)
      .collect().map(_.doc_id).toSet
    assert(ids == Set("top.md", "a/one.md", "a/b/two.md"))

    // single-file base: one row keyed by file name
    val one = Ingest.fromDirectory(spark, base.resolve("a/one.md").toString).collect()
    assert(one.length == 1 && one.head.doc_id == "one.md" &&
      one.head.raw == "# Depth one")
  }

  test("every non-image supported MIME routes to a real dialect") {
    // the reference's SUPPORTED union minus image/* (standalone images go
    // to its OCR/ML providers — the documented external-ML exclusion);
    // everything else must reach a byte or text route, never unsupported:*
    val nonImage = graft.ops.DocOps.SupportedMimeTypes
      .filterNot(_.startsWith("image/"))
    for (mime <- nonImage) {
      val r = Ingest.toRawDoc("f.bin", "x".getBytes("UTF-8"), mime)
      assert(!r.payload_kind.startsWith("unsupported"), s"$mime -> ${r.payload_kind}")
      // the routed kind has a converter: the row may fail to parse, but
      // never as an unknown kind
      val failure = Pipeline.extractOne(r).failure
      assert(!failure.contains("unknown dialect"), s"$mime -> $failure")
    }
    // every kind in the format table is reachable: by MIME through
    // ingestion (markdown MIMEs refine by marker grammar) or from the
    // synthetic corpus (provider dialects, pdf_layout)
    val formats = graft.extract.Formats.All
    val ingested = formats.flatMap(_.mimes)
      .map(m => Ingest.toRawDoc("f.bin", "x".getBytes("UTF-8"), m).payload_kind)
    val generated = (0L until 2000L).map(i => graft.io.SyntheticDocs.generate(42, i).raw.payload_kind)
    val unreachable = formats.map(_.kind).toSet -- ingested -- generated
    assert(unreachable.isEmpty, unreachable)
  }

  test("table-borne byte rows (empty source_path) assemble like text rows") {
    // title falls back to the doc_id and provenance is synthetic://, the
    // rule every text kind follows
    val rtf = graft.extract.RtfExtract.buildRtf("", Seq("Body text"))
    val r = Ingest.toRawDoc("x.rtf", rtf.getBytes("ISO-8859-1"))
      .copy(doc_id = "doc-7", source_path = "")
    val out = Pipeline.extractOne(r)
    assert(out.failure == "" && out.spans.exists(_.text == "Body text"))
    assert(out.title == "doc-7")
    assert(out.source_path == "synthetic://rtf_bytes/doc-7.rtf")
    assert(out.metadata == Map("rtf_paragraphs" -> "1"))
  }

  test("every SparkEntry query has a DuckDB oracle, and every oracle a query") {
    // the local oracle gate walks the oracle keys, so a query without an
    // oracle would drop out of the gate unseen
    val (queries, oracles) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(queries -- oracles == Set.empty && oracles -- queries == Set.empty)
    assert(queries.size == 90)
  }
}
