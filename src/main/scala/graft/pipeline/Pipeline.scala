package graft.pipeline

import graft.chunk.Chunkers
import graft.extract.Formats
import graft.io.TableIO
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Extraction result row: the doc plus an error slot so partition lineage can
  * aggregate failures without killing the job (mirrors docler's per-file
  * error capture, converters/dir_converter.py:154-157).
  */
final case class ExtractOut(
    doc_id: String,
    spans: Seq[Span],
    mime_type: String,
    page_count: Int,
    failure: String,
    title: String = "",
    source_path: String = "",
    media: Seq[MediaItem] = Nil,
    metadata: Map[String, String] = Map.empty)

/** The end-to-end pipeline: route → extract → (chunk). Extraction is
  * row-wise (`Dataset.map` over typed rows — the UDTF-free path that keeps
  * the stage embarrassingly parallel); the only shuffles are the explicit
  * pre-extract repartition (uniform task sizing before the heavy
  * tokenize/classify map, per the north rule) and whatever downstream
  * aggregation the caller adds.
  */
object Pipeline {

  /** Standard session config for this engine. `cores` drives both parallelism
    * and shuffle partitions (never the 200 default in local mode).
    */
  def session(master: String, cores: Int, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // guide §3.1/§9: let the planner pick a shuffled-hash join when its
      // size conditions hold (no per-partition sort of payload rows; SMJ
      // remains the fallback whenever the build side is not provably
      // small, so the scale story is unchanged), and let AQE rewrite a
      // planned SMJ to SHJ when every post-shuffle partition is small
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** payload kind → reference provider, for cost metadata injection
    * (converters/base.py:214-223; per-provider prices in DocOps.PricePerPage).
    * Kinds modelling unpriced providers (mistral, markitdown, docling…) have
    * no entry, matching `price_per_page is None` in the reference.
    */
  private val KindToProvider: Map[String, String] = Map(
    "md_azure" -> "azure", "md_upstage" -> "upstage", "md_datalab" -> "datalab")

  /** mime → extension, precomputed once (hot path: one lookup per doc). */
  private val MimeToExt: Map[String, String] = {
    val fromTable = graft.ops.DocOps.ExtToMime.toSeq
      .sortBy(_._1) // toMap keeps the last entry: "html" wins over "htm", "jpg" over "jpeg"
      .map { case (ext, mime) => mime -> ext }.toMap
    fromTable ++ graft.ops.DocOps.ImageMimeToExt
  }

  private def extOf(mime: String): String = MimeToExt.getOrElse(mime, "bin")

  /** Pure per-row extraction: convert through the format table
    * ([[graft.extract.Formats]]), then the one Document assembly every kind
    * shares. Never throws: [[graft.extract.Formats.convert]] forms both the
    * spans and every failure string (its envelope catches what a converter
    * throws), and a failure lands in the `failure` column for lineage.
    *
    * Document assembly mirrors converters/base.py:204-223: title = converter
    * title else the source filename stem; ingested docs carry EXPLICIT
    * real-file provenance (RawDoc.source_path set by Ingest, keyed by
    * relative path like the reference, base.py:396-398), table-borne docs
    * the synthetic:// provenance and their doc_id as stem (base.py:285);
    * cost metadata injected when the modelled provider has a price.
    */
  def extractOne(r: RawDoc): ExtractOut =
    Formats.convert(r) match {
      case Left(err) => ExtractOut(r.doc_id, Nil, r.mime_type, 0, err)
      case Right(c) =>
        val (sourcePath, stem) =
          if (r.source_path.isEmpty)
            (s"synthetic://${r.payload_kind}/${r.doc_id}.${extOf(r.mime_type)}", r.doc_id)
          else {
            val name = r.source_path.substring(r.source_path.lastIndexOf('/') + 1)
            (r.source_path,
              if (name.lastIndexOf('.') > 0) name.substring(0, name.lastIndexOf('.')) else name)
          }
        val metadata = KindToProvider.get(r.payload_kind)
          .flatMap(p => graft.ops.DocOps.PricePerPage.get(p)).fold(c.metadata) { price =>
            val cost = java.math.BigDecimal.valueOf(price)
              .multiply(java.math.BigDecimal.valueOf(c.pageCount.toLong))
            c.metadata ++ Map(
              "conversion_cost_usd" -> cost.stripTrailingZeros.toPlainString,
              "price_per_page_usd" -> java.math.BigDecimal.valueOf(price).toPlainString,
              "pages_processed" -> c.pageCount.toString)
          }
        ExtractOut(r.doc_id, c.spans, r.mime_type, c.pageCount, "",
          title = if (c.title.nonEmpty) c.title else stem,
          source_path = sourcePath, media = c.media, metadata = metadata)
    }

  /** The extract stage. `repartitionTo` forces uniform task sizing before the
    * heavy map — on a cluster this is the explicit shuffle that breaks up
    * whatever clustering the input files impose. Docs are hash-partitioned
    * on `doc_id` itself, so each task gets close to the mean doc count (a
    * 2,000-doc corpus over 8 tasks: 239–263 docs each); hashing a coarser
    * key such as `pmod(hash, 4n)` onto n tasks left the busiest near 2×.
    */
  def extract(raw: Dataset[RawDoc], repartitionTo: Int = 0): Dataset[ExtractOut] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val staged =
      if (repartitionTo > 0) raw.repartition(repartitionTo, col("doc_id"))
      else raw
    staged.map(extractOne)
  }

  /** Successful docs as a DataFrame — a pure projection (filter + lit
    * columns), NO re-encode: a second typed map here would deserialize and
    * re-serialize every span (measured ~25% of stage time).
    */
  def toDocsDF(out: Dataset[ExtractOut]): DataFrame =
    out.toDF().filter(col("failure") === "")
      .select(col("doc_id"), col("spans"), col("title"),
        col("source_path"), col("mime_type"), col("page_count"),
        col("media"), col("metadata"))

  /** The standalone media side-table (docler `Image` rows,
    * docler_api/routes.py:62-64): a pure projection over the docs table —
    * parquet column pruning means this reads ONLY the media column.
    */
  def toMediaDF(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("media")).as("m"))
      .select(col("doc_id"), col("m.media_ref").as("media_ref"),
        col("m.mime_type").as("mime_type"), col("m.content").as("content"))

  def toDocs(out: Dataset[ExtractOut]): Dataset[Doc] = {
    val spark = out.sparkSession
    import spark.implicits._
    toDocsDF(out).as[Doc]
  }

  /** Chunk stage: 1 doc → N chunk rows (`flatMap`, the Generator analog). */
  def chunk(docs: Dataset[Doc], maxChunkSize: Int = 1500, overlap: Int = 50): Dataset[Chunk] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => Chunkers.markdownChunks(d, maxChunkSize, overlap))
  }

  def chunkTokenAware(docs: Dataset[Doc], maxTokens: Int = 4000, overlapLines: Int = 20): Dataset[Chunk] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => Chunkers.tokenAwareChunks(d, maxTokens, overlapLines))
  }

  /** Per-partition lineage rows (north rule: input snapshot id, partition id,
    * doc count, span count, failure list): one [[LineageRow.Tally]] per
    * partition over `(failure, size(spans))`, the same tally `Runner` keeps
    * in its write pass, so there is no shuffle. Every partition reports one
    * row, empty or not. `out` needs `spans` and `failure` ("" = success)
    * columns: extract output, or committed docs tagged with `failure = ""`.
    */
  def lineage(out: Dataset[_], snapshotId: Long): Dataset[LineageRow] = {
    val spark = out.sparkSession
    import spark.implicits._
    out.toDF().select(col("failure"), size(col("spans"))).as[(String, Int)]
      .mapPartitions { it =>
        val tally = new LineageRow.Tally(TaskContext.getPartitionId())
        it.foreach { case (failure, spans) => tally.add(failure, spans) }
        Iterator.single(tally.row(snapshotId))
      }
  }
}

/** Snapshot-aware resume: drop doc_ids already committed to the output table
  * (the reference's idempotency guard, annotators/ai_image_annotator.py:96-97,
  * promoted to an anti-join per the north rule).
  */
object Resume {
  /** `input LEFT ANTI JOIN processed ON doc_id`. The processed side is just
    * doc_ids — small relative to payloads — so Catalyst broadcasts it when it
    * fits (AQE decides); at 10^12-doc scale it degrades gracefully to a
    * shuffled hash anti-join on the same key the output table is partitioned
    * by. Duplicate keys on the processed side do not change an anti-join's
    * result, so they are not removed first.
    */
  def filterProcessed(input: DataFrame, processedDocIds: DataFrame): DataFrame =
    input.join(processedDocIds.select("doc_id"), Seq("doc_id"), "left_anti")

  /** The committed doc_ids, read with their declared type: no job runs to
    * infer the table's schema.
    */
  def processedIds(spark: SparkSession, outTableDir: String): Option[DataFrame] =
    TableIO.currentSnapshot(outTableDir).filter(_.dataDirs.nonEmpty).map(s =>
      TableIO.readDirs(spark, outTableDir, s.dataDirs, StructType.fromDDL("doc_id string")))
}
