package graft.ops

import graft.md.Markdown
import graft.model.{Doc, SpanKind}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining document-level operators from the SURVEY §2 inventory that are
  * not part of the core extract/chunk stages.
  */
object DocOps {

  // ----------------------------------------------------------- MIME registry

  /** Extension → MIME map — the reference's full constant table
    * (mime_types.py:124-167, all 41 entries). Broadcast-friendly: tiny
    * immutable map, used via a literal map column so Catalyst constant-folds
    * lookups.
    */
  val ExtToMime: Map[String, String] = Map(
    "txt" -> "text/plain", "md" -> "text/markdown", "pdf" -> "application/pdf",
    "html" -> "text/html", "htm" -> "text/html",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "xls" -> "application/vnd.ms-excel",
    "xlsm" -> "application/vnd.ms-excel.sheet.macroEnabled.12",
    "xlsb" -> "application/vnd.ms-excel.sheet.binary.macroEnabled.12",
    "xlam" -> "application/vnd.ms-excel.addin.macroEnabled.12",
    "xla" -> "application/vnd.ms-excel.template.macroEnabled.12",
    "ods" -> "application/vnd.oasis.opendocument.spreadsheet",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "bmp" -> "image/bmp", "gif" -> "image/gif", "jpg" -> "image/jpeg",
    "jpeg" -> "image/jpeg", "png" -> "image/png", "tiff" -> "image/tiff",
    "tif" -> "image/tiff", "webp" -> "image/webp",
    "jp2" -> "image/jp2", "jpx" -> "image/jpx", "jpm" -> "image/jpm",
    "mj2" -> "image/mj2", "pnm" -> "image/x-portable-anymap",
    "pbm" -> "image/x-portable-bitmap", "pgm" -> "image/x-portable-graymap",
    "ppm" -> "image/x-portable-pixmap",
    "csv" -> "text/csv", "tsv" -> "text/tab-separated-values",
    "rst" -> "text/x-rst", "org" -> "text/x-org",
    "epub" -> "application/epub+zip", "rtf" -> "application/rtf",
    "odt" -> "application/vnd.oasis.opendocument.text",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "doc" -> "application/msword", "bib" -> "application/x-bibtex",
    "ipynb" -> "application/x-ipynb+json", "tex" -> "application/x-latex")

  /** MIME → image filename extension (mime_types.py:63-82). */
  val ImageMimeToExt: Map[String, String] = Map(
    "image/bmp" -> "bmp", "image/x-bmp" -> "bmp", "image/x-ms-bmp" -> "bmp",
    "image/gif" -> "gif", "image/jpeg" -> "jpg", "image/pjpeg" -> "jpg",
    "image/png" -> "png", "image/tiff" -> "tiff", "image/x-tiff" -> "tiff",
    "image/jp2" -> "jp2", "image/jpx" -> "jpx", "image/jpm" -> "jpm",
    "image/mj2" -> "mj2", "image/webp" -> "webp",
    "image/x-portable-anymap" -> "pnm", "image/x-portable-bitmap" -> "pbm",
    "image/x-portable-graymap" -> "pgm", "image/x-portable-pixmap" -> "ppm")

  /** The reference's SUPPORTED union (mime_types.py:169-175): plain-text +
    * image + pandoc-supported + spreadsheet + {pdf, pptx, html}.
    */
  val SupportedMimeTypes: Set[String] = {
    val plain = Set("text/plain", "text/markdown")
    val images = ImageMimeToExt.keySet
    val pandoc = Set(
      "application/csl+json", "application/docbook+xml", "application/epub+zip",
      "application/rtf", "application/vnd.oasis.opendocument.text",
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
      "application/x-biblatex", "application/x-bibtex",
      "application/x-endnote+xml", "application/x-fictionbook+xml",
      "application/x-ipynb+json", "application/x-jats+xml", "application/x-latex",
      "application/x-opml+xml", "application/x-research-info-systems",
      "application/x-typst", "text/csv", "text/tab-separated-values",
      "text/troff", "text/x-commonmark", "text/x-dokuwiki", "text/x-gfm",
      "text/x-markdown", "text/x-markdown-extra", "text/x-mdoc",
      "text/x-multimarkdown", "text/x-org", "text/x-pod", "text/x-rst")
    val spreadsheets = Set(
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
      "application/vnd.ms-excel", "application/vnd.ms-excel.sheet.macroEnabled.12",
      "application/vnd.ms-excel.sheet.binary.macroEnabled.12",
      "application/vnd.ms-excel.addin.macroEnabled.12",
      "application/vnd.ms-excel.template.macroEnabled.12",
      "application/vnd.oasis.opendocument.spreadsheet")
    plain ++ images ++ pandoc ++ spreadsheets ++ Set(
      "application/pdf",
      "application/vnd.openxmlformats-officedocument.presentationml.presentation",
      "text/html")
  }

  private lazy val mimeMapCol: Column =
    typedlit(ExtToMime)

  /** Guess MIME from a path column (mimetypes.guess_type analog,
    * converters/base.py:269): literal-map lookup, codegen'd, no UDF.
    */
  def guessMime(path: Column): Column =
    coalesce(
      element_at(mimeMapCol, lower(regexp_extract(path, "\\.(\\w+)$", 1))),
      lit("application/octet-stream"))

  // ------------------------------------------------ directory-scan filters

  /** Glob pattern → anchored regex (the pathlib/fsspec subset the reference's
    * `convert_directory(pattern=, exclude=)` uses, base.py:343-389):
    * `**` crosses directory separators (`**\/` matches zero or more
    * directories), `*` and `?` stay within one path segment, everything else
    * is literal. Only portable regex constructs are emitted (char-by-char
    * escaping, no \\Q..\\E), so the same string works in Java and RE2 engines.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    val n = glob.length
    while (i < n) {
      glob.charAt(i) match {
        case '*' if i + 1 < n && glob.charAt(i + 1) == '*' =>
          if (i + 2 < n && glob.charAt(i + 2) == '/') { sb ++= "(?:.*/)?"; i += 3 }
          else { sb ++= ".*"; i += 2 }
        case '*' => sb ++= "[^/]*"; i += 1
        case '?' => sb ++= "[^/]"; i += 1
        case '[' =>
          // glob character class ([!...] negates; a ']' FIRST in the class is
          // a literal member; an unclosed '[' is literal — all per fnmatch)
          val negated = i + 1 < n && glob.charAt(i + 1) == '!'
          val contentStart = i + (if (negated) 2 else 1)
          val searchFrom =
            if (contentStart < n && glob.charAt(contentStart) == ']') contentStart + 1
            else contentStart
          val close = glob.indexOf(']', searchFrom)
          if (close < 0) { sb ++= "\\["; i += 1 }
          else {
            var cls = glob.substring(contentStart, close)
              .replace("\\", "\\\\").replace("[", "\\[")
            if (cls.startsWith("]")) cls = "\\]" + cls.substring(1)
            if (!negated && cls.startsWith("^")) cls = "\\^" + cls.substring(1)
            // a leading '-' is a LITERAL member per fnmatch; it stays
            // literal after '[' or '[^', but prepending '/' below would
            // turn it into the range '/-X' — escape it first
            if (negated && cls.startsWith("-")) cls = "\\-" + cls.substring(1)
            sb += '['
            // a negated class stays within one path segment (like `*`/`?`
            // above and the JDK PathMatcher): [!b] must not match '/'
            if (negated) sb ++= "^/"
            sb ++= cls
            sb += ']'
            i = close + 1
          }
        case c if "\\.]{}()+-^$|".indexOf(c) >= 0 => sb += '\\'; sb += c; i += 1
        case c => sb += c; i += 1
      }
    }
    sb += '$'
    sb.toString
  }

  /** The reference's directory-scan filter chain (base.py:381-398) as
    * pushable predicates over a path column: glob include pattern, exclude
    * patterns, max directory depth ('/' count), then MIME-supported via
    * [[guessMime]]. Everything is `rlike`/comparison — Catalyst pushes the
    * lot into the scan.
    *
    * The path column must hold BASE-RELATIVE paths (depth = separator
    * count of the value) — the same depth semantics as
    * [[graft.io.Ingest.fromDirectory]], which relativizes before filtering;
    * feeding absolute paths here would count their leading components.
    */
  def directoryFilter(
      df: DataFrame,
      pathCol: String = "path",
      pattern: String = "**/*",
      exclude: Seq[String] = Nil,
      maxDepth: Int = 0,
      supported: Set[String] = SupportedMimeTypes): DataFrame = {
    val p = col(pathCol)
    var out = df.filter(p.rlike(globToRegex(pattern)))
    exclude.foreach(g => out = out.filter(!p.rlike(globToRegex(g))))
    if (maxDepth > 0)
      out = out.filter(length(p) - length(regexp_replace(p, "/", "")) <= maxDepth)
    out.filter(guessMime(p).isInCollection(supported))
  }

  // -------------------------------------------------------- cost aggregation

  /** Per-provider price/page constants (reference provider files; see
    * BASELINE.md table).
    */
  val PricePerPage: Map[String, Double] = Map(
    "azure" -> 0.00958, "upstage" -> 0.01, "llamaparse" -> 0.0045,
    "datalab" -> 0.0015, "datalab_llm" -> 0.003)

  /** Conversion-cost metadata: price_per_page × page_count
    * (converters/base.py:214-223) as a scalar expression over a broadcast
    * literal map.
    */
  def withCost(docs: DataFrame, providerCol: Column, pageCountCol: Column): DataFrame =
    docs.withColumn("cost_usd",
      round(coalesce(element_at(typedlit(PricePerPage), providerCol), lit(0.0)) *
        pageCountCol, 6))

  // ------------------------------------------------------- numbered text

  /** `NNN | line` numbering (utils.py:142-145) — relational form:
    * posexplode(split()) + format_string, fully codegen'd.
    */
  def numberedLines(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(col("*"),
      posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .withColumn("numbered", format_string("%5d | %s", col("line_idx") + 1, col("line")))
      .drop("line")

  // ------------------------------------------------------- corrections

  /** A line correction (processors/ai_processor.py:27-36). */
  final case class LineCorrection(line_number: Int, corrected: String)

  /** Apply corrections in reverse line order, first-wins per line
    * (ai_processor.py:39-58). Pure; used inside a typed map.
    *
    * @return (corrected text, 0-based indices corrected)
    */
  def applyCorrections(text: String, corrections: Seq[LineCorrection]): (String, Set[Int]) = {
    val lines = text.split("\n", -1).toBuffer
    val done = scala.collection.mutable.Set.empty[Int]
    corrections.sortBy(-_.line_number).foreach { c =>
      val idx = c.line_number - 1
      if (idx >= 0 && idx < lines.length && !done.contains(idx)) {
        lines(idx) = c.corrected
        done += idx
      }
    }
    (lines.mkString("\n"), done.toSet)
  }

  // ---------------------------------------------------------- export sink

  /** Directory-export sink rows: `(doc_id, filename, content)` — one
    * `document.md` (frontmatter + canonical markdown) plus one row per image
    * file, mirroring `Document.export_to_directory` (golden shape
    * test_output.ambr:2-15). The files_list is sorted like the reference
    * snapshot (tests/test_output.py:47).
    */
  /** The export file set for one doc, sorted by filename (the snapshot's
    * sorted file list, test_output.ambr:2-15): `document.md` bytes
    * (frontmatter + canonical markdown) plus one entry per referenced image
    * with its sidecar payload — the SINGLE definition both export sinks
    * ([[exportRows]], [[exportToDirectory]]) share so they cannot diverge.
    */
  def perDocFiles(d: Doc): Seq[(String, Array[Byte])] = {
    val md = Markdown.renderWithFrontmatter(d.spans,
      title = if (d.title.nonEmpty) d.title else d.doc_id,
      sourcePath = d.source_path, mimeType = d.mime_type,
      pageCount = Markdown.pageCount(d.spans))
    val payload: Map[String, Array[Byte]] =
      d.media.map(m => m.media_ref -> m.content).toMap
    val images = d.spans.filter(_.kind == SpanKind.Image)
      .map(s => (s.media_ref, payload.getOrElse(s.media_ref, Array.emptyByteArray)))
    (("document.md", md.getBytes(java.nio.charset.StandardCharsets.UTF_8)) +: images)
      .sortBy(_._1)
  }

  def exportRows(docs: Dataset[Doc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { d =>
      perDocFiles(d).map { case (filename, bytes) =>
        // the content column is string-typed: document.md verbatim, image
        // payloads base64-encoded, payload-less refs empty
        val content =
          if (filename == "document.md")
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          else if (bytes.isEmpty) ""
          else java.util.Base64.getEncoder.encodeToString(bytes)
        (d.doc_id, filename, content)
      }
    }.toDF("doc_id", "filename", "content")
  }

  /** Sorted files_list per doc (the snapshot's second assertion). */
  def filesList(docs: Dataset[Doc]): DataFrame =
    exportRows(docs).groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("filename"))).as("files"))

  /** The literal `Document.export_to_directory` sink (tests/test_output.py:
    * 41-49): one directory per doc under `baseDir` containing `document.md`
    * (frontmatter + canonical markdown) and one file per referenced image
    * with its sidecar payload bytes. Executed per partition on the executors
    * (each writes its own docs — embarrassingly parallel; on a cluster point
    * `baseDir` at a shared filesystem). Returns nothing; compose with
    * [[filesList]]/[[exportRows]] for the relational view.
    */
  def exportToDirectory(docs: Dataset[Doc], baseDir: String): Unit =
    docs.foreachPartition { it: Iterator[Doc] =>
      it.foreach { d =>
        val dir = java.nio.file.Paths.get(baseDir, d.doc_id)
        java.nio.file.Files.createDirectories(dir)
        perDocFiles(d).foreach { case (filename, bytes) =>
          java.nio.file.Files.write(dir.resolve(filename), bytes)
        }
      }
    }

  // ------------------------------------------------- verification join

  /** Golden-fixture verification join: per-doc span-sequence equality
    * (the reference's snapshot compare, tests/test_output.py:38-49, as a
    * relational op). Output: (doc_id, matches, ours_n, golden_n).
    */
  def verifyJoin(ours: DataFrame, golden: DataFrame): DataFrame =
    ours.select(col("doc_id"), col("spans").as("ours"))
      .join(golden.select(col("doc_id"), col("spans").as("golden")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (col("ours").isNotNull && col("golden").isNotNull &&
          col("ours") === col("golden")).as("matches"),
        coalesce(size(col("ours")), lit(-1)).as("ours_n"),
        coalesce(size(col("golden")), lit(-1)).as("golden_n"))
}
