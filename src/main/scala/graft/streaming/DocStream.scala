package graft.streaming

import graft.model.RawDoc
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming document pipeline: the SAME extraction semantics as the batch
  * path (`Pipeline.extractOne` is a pure per-row function, so the typed map
  * drops into a streaming plan unchanged), plus streaming exact-dedup.
  *
  * The reference is pure batch; these make the engine's document table
  * incrementally maintainable — `readStream` over the same Iceberg-shaped
  * input, append-mode extraction (stateless), bounded-state dedup.
  */
object DocStream {

  /** Streaming extraction: readStream over RawDoc parquet → extractOne →
    * docs DataFrame (append mode, no state). Failed docs are dropped. A
    * cluster deployment points this at the table's data directory and
    * writes with exactly-once file sink semantics; extraction parallelism =
    * source file splits.
    */
  def extractStream(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream.schema(schema).parquet(dir).as[RawDoc]
    Pipeline.toDocsDF(raw.map(Pipeline.extractOne))
  }

  /** Streaming exact dedup on content hash. With an event-time column the
    * state is bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark`); without one it falls back to
    * unbounded dedup state (documented trade: exact forever-dedup needs
    * state ∝ distinct contents — at scale prefer the watermarked form).
    */
  def dedupStream(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: Option[String] = None,
      watermark: String = "10 minutes"): DataFrame = {
    val hashed = docs.withColumn("content_hash", sha2(col(textCol), 256))
    tsCol match {
      case Some(ts) =>
        hashed.withWatermark(ts, watermark)
          .dropDuplicatesWithinWatermark("content_hash")
      case None =>
        hashed.dropDuplicates("content_hash")
    }
  }
}
