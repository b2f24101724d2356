package graft.model

/** Core data model for the extraction engine.
  *
  * Mirrors the canonical interleaved span stream every docler converter
  * normalizes into (reference: /root/reference/src/docler/converters/base.py:32-47,
  * snapshot grammar at tests/__snapshots__/test_output.ambr:17,49,53) and the
  * graft `input_hint` schema:
  *
  * {{{
  * doc_id: string
  * spans : array<struct<kind:string, text:string, media_ref:string, offset:int>>
  * }}}
  */
object SpanKind {
  val Text = "text"
  val PageBreak = "page_break"
  val Image = "image"
  val ChunkBoundary = "chunk_boundary"
}

/** One element of a document's interleaved span stream.
  *
  * @param kind      one of [[SpanKind]]
  * @param text      markdown block text; for page_break the JSON payload
  *                  `{"next_page":N}`; for image the image id (`img-K`)
  * @param media_ref `img-K.<ext>` filename for kind=image, else ""
  * @param offset    0-based order within the document
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One sidecar media payload carried on a [[Doc]] (docler `Image` content;
  * reference docler_api/routes.py:62-64). Bytes may be empty when the source
  * payload carried only a reference (the reference fetches such bytes from
  * the provider service — a path that does not exist in-table).
  */
final case class MediaItem(media_ref: String, mime_type: String, content: Array[Byte])

/** A document row: the unit of the pipeline (docler `Document`,
  * reference models.py:8 / converters/base.py:204-223).
  *
  * `media` rides as a separate column of the same row (not a separate table):
  * parquet is columnar, so span-only readers never touch the payload bytes,
  * and the single-pass commit writes both without a second job or a second
  * crash window. The standalone media table is the projection
  * [[graft.pipeline.Pipeline.toMediaDF]].
  */
final case class Doc(
    doc_id: String,
    spans: Seq[Span],
    title: String = "",
    source_path: String = "",
    mime_type: String = "",
    page_count: Int = 0,
    media: Seq[MediaItem] = Nil,
    metadata: Map[String, String] = Map.empty)

/** Sidecar media row (docler `Image` model; payload bytes kept out of the hot
  * span table — reference docler_api/routes.py:62-64).
  */
final case class MediaRef(
    doc_id: String,
    media_ref: String,
    mime_type: String,
    content: Array[Byte])

/** A chunk row produced by the chunk stage (docler `TextChunk`,
  * chunkers/markdown_chunker/chunker.py:69-103).
  */
final case class Chunk(
    doc_id: String,
    chunk_index: Int,
    content: String,
    media_refs: Seq[String],
    header: String = "",
    level: Int = 0,
    start_line: Int = 0,
    end_line: Int = 0,
    token_count: Int = 0,
    keywords: Seq[String] = Nil,
    extra_data: Map[String, String] = Map.empty)

/** Per-partition lineage/metrics row (north-rule resumability;
  * mirrors docler's `Conversion` progress state, converters/dir_converter.py:22-45).
  *
  * `failures` is a bounded SAMPLE (first [[LineageRow.MaxFailureSample]] per
  * partition) — on a broadly-failing huge batch the full list would ship
  * through task results to the driver; `failure_count` is always exact.
  */
final case class LineageRow(
    snapshot_id: Long,
    partition_id: Int,
    doc_count: Long,
    span_count: Long,
    failure_count: Long,
    failures: Seq[String])

object LineageRow {
  /** Max failure messages retained per partition (count stays exact). */
  final val MaxFailureSample = 100

  /** One partition's lineage, tallied as its rows stream past: the only
    * place a [[LineageRow]] is built (`Runner`'s write pass and
    * `Pipeline.lineage` both feed one per task).
    */
  final class Tally(partitionId: Int) {
    private var docs, spans, failed = 0L
    private val sample = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One extract row: `failure` is "" for a success. */
    def add(failure: String, spanCount: Int): Unit =
      if (failure.isEmpty) { docs += 1; spans += spanCount }
      else {
        failed += 1
        if (sample.size < MaxFailureSample) sample += failure
      }

    def row(snapshotId: Long): LineageRow =
      LineageRow(snapshotId, partitionId, docs, spans, failed, sample.toSeq)
  }
}

/** Raw (pre-extraction) document row: what the synthetic Iceberg-shaped input
  * table carries. Exactly one of the payload fields is populated depending on
  * `payload_kind`:
  *   - "html"        → `raw` holds an HTML page (HtmlExtract stage)
  *   - "pdf_layout"  → `elements` holds positioned page elements (PdfLayout stage)
  *   - "md_azure" / "md_datalab" / "md_slides" / "md_datauri" → `raw` holds
  *     provider-dialect markdown (Normalize stage)
  *   - "md_pages"    → `pages` holds per-page markdown parts (mistral/llamaparse
  *     style assembly, reference mistral_provider/provider.py:122-135)
  */
final case class RawDoc(
    doc_id: String,
    payload_kind: String,
    mime_type: String,
    raw: String,
    pages: Seq[String],
    elements: Seq[PdfElement],
    source_path: String = "") // real-file provenance (Ingest); "" = table-borne

/** A positioned element on a PDF page (input to the layout stage). Coordinates
  * are points, origin top-left.
  */
final case class PdfElement(
    page: Int,
    x: Double,
    y: Double,
    w: Double,
    h: Double,
    kind: String, // "text" | "image" | "table"
    text: String)
