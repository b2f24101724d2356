package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured Streaming shells. The reference is pure batch (no streaming
  * anywhere in docler), so these exist to make the engine's event/metrics
  * tables incrementally maintainable: the same windowed aggregations the
  * batch queries compute, expressed as streaming plans over the events table.
  */
object EventStream {

  /** Windowed event counts with a watermark: readStream over a parquet
    * directory → 5-minute tumbling windows per event_type.
    */
  def windowedCounts(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time type
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal sum: exact and order-insensitive, so the streaming result
        // hash-matches the batch oracle regardless of micro-batching
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))

  /** Run a streaming plan to completion over what its source holds now,
    * into a memory sink, and return the sink table. The query stops even
    * when the run throws.
    */
  def runOnce(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }
}
