package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational span operators over the exploded representation
  * `(doc_id, kind, text, media_ref, offset)` — Catalyst expressions
  * (windows, two-phase aggregation) and the native
  * [[graft.functions.SortedStructCollect]] aggregate; no UDFs.
  */
object SpanOps {

  /** nested `(doc_id, spans[])` → flat `(doc_id, kind, text, media_ref, offset)`. */
  def explodeSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))

  /** flat spans → nested, ordered by offset: the span-assemble stage (the
    * ordered-concat aggregation every provider performs, e.g.
    * mistral_provider/provider.py:122-135). ONE aggregation builds each
    * document's spans straight in their final `(kind, text, media_ref,
    * offset)` shape ([[graft.functions.SortedStructCollect]] keyed on
    * `offset`): map-side partial buffers sort before they ship, the final
    * step merges pre-sorted runs, and spans that arrive in offset order —
    * explode emits them that way — are never re-sorted. Ties on `offset`
    * break by kind, text, media_ref, the order
    * `array_sort(collect_list(struct(offset, kind, text, media_ref)))`
    * gives, so ordering never depends on partition iteration order. The
    * payload crosses ONE exchange, and no projection runs after the
    * aggregate.
    */
  def assembleSkewAware(flat: DataFrame): DataFrame =
    flat
      .groupBy(col("doc_id"))
      .agg(graft.functions.SortedStructCollect.sortedCollect(struct(
        col("kind"), col("text"), col("media_ref"), col("offset")), "offset").as("spans"))

  /** Renumber page_break spans 1..N per document in offset order — the
    * relational form of the providers' stateful marker renumbering
    * (azure_provider/utils.py:45-56) as a window function.
    */
  def renumberPageBreaks(flat: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("offset"))
    flat
      .withColumn("page_no",
        sum(when(col("kind") === "page_break", 1).otherwise(0)).over(w))
      .withColumn("text",
        when(col("kind") === "page_break",
          concat(lit("{\"next_page\":"), col("page_no"), lit("}")))
          .otherwise(col("text")))
  }

  /** Page number of every span = running count of page_break markers at or
    * before it (page 1 when no marker precedes). Enables page-range pushdown
    * before the heavy stages (the reference's extract_pdf_pages pruning,
    * pdf_utils.py:138-184).
    */
  def withPageNumber(flat: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("offset"))
    flat.withColumn("page_no",
      greatest(sum(when(col("kind") === "page_break", 1).otherwise(0)).over(w), lit(1)))
  }

  /** Keep only spans on the given pages (plus nothing else): the page-range
    * filter as a plain predicate the optimizer can push.
    */
  def filterPages(flat: DataFrame, pages: Set[Int]): DataFrame =
    withPageNumber(flat)
      .filter(col("page_no").isInCollection(pages))
      .drop("page_no")
}
