package graft

import graft.pipeline.Pipeline
import graft.streaming.EventStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  // FileStreamSource requires a directory; testdata ships one file per table
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("windowed streaming counts equal the batch windowed aggregation") {
    val schema = spark.read.parquet(eventsDir + "/events.parquet").schema
    // Complete mode: with Append, windows still inside the watermark of the
    // final batch would be withheld from the memory sink
    EventStream.runOnce(
      EventStream.windowedCounts(spark, eventsDir, schema), "win_counts",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val streamed = spark.sql(
      "SELECT sum(n) FROM win_counts").collect().head.getLong(0)
    val batch = spark.read.parquet(eventsDir + "/events.parquet").count()
    assert(streamed == batch)
    // per-window figures match the equivalent batch plan
    import org.apache.spark.sql.functions._
    val batchWin = spark.read.parquet(eventsDir + "/events.parquet")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n")).count()
    val streamWin = spark.sql("SELECT count(*) FROM win_counts").collect().head.getLong(0)
    assert(streamWin == batchWin)
  }
}

/** Streaming document extraction + dedup (round 2): identical semantics to
  * the batch path, micro-batched.
  */
class DocStreamSpec extends org.scalatest.funsuite.AnyFunSuite {

  lazy val spark = graft.pipeline.Pipeline.session("local[4]", 4, "graft-test")

  test("streaming extraction equals the batch extraction, span for span") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docstream").toString + "/raw"
    val gens = (0L until 120L).map(i => graft.io.SyntheticDocs.generate(seed = 42, i))
    spark.createDataset(gens.map(_.raw)).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = graft.streaming.EventStream.runOnce(
      graft.streaming.DocStream.extractStream(spark, dir, schema), "doc_stream")
      .select("doc_id", "spans").as[(String, Seq[graft.model.Span])].collect().toMap
    assert(streamed.size == 120)
    gens.foreach(g => assert(streamed(g.raw.doc_id) == g.expected, g.raw.doc_id))
  }

  test("streaming exact dedup emits one row per distinct content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedupstream").toString + "/raw"
    Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text").write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema).parquet(dir)
    val rows = graft.streaming.EventStream.runOnce(
      graft.streaming.DocStream.dedupStream(src), "dedup_stream").select("content_hash").collect()
    assert(rows.length == 2)
  }
}

/** Streaming extraction's failure drop and the watermarked dedup branch. */
class DocStream2Spec extends org.scalatest.funsuite.AnyFunSuite {

  lazy val spark = graft.pipeline.Pipeline.session("local[4]", 4, "graft-test")

  test("extractStream drops failed docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docstream2").toString + "/raw"
    val ok = (0L until 10L).map(i => graft.io.SyntheticDocs.generate(seed = 42, i).raw)
    val bad = graft.model.RawDoc("doc-bad", "no_such_dialect", "x", "", Nil, Nil)
    spark.createDataset(ok :+ bad).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    graft.streaming.EventStream.runOnce(
      graft.streaming.DocStream.extractStream(spark, dir, schema), "extract_docs")
    assert(spark.sql("SELECT count(*) FROM extract_docs").head().getLong(0) == 10)
  }

  test("watermarked dedupStream (dropDuplicatesWithinWatermark branch)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedupwm").toString + "/raw"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
    Seq((1L, "same text", ts(0)), (2L, "same text", ts(1)), (3L, "other text", ts(2)))
      .toDF("doc_id", "text", "ts").write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    graft.streaming.EventStream.runOnce(
      graft.streaming.DocStream.dedupStream(src, tsCol = Some("ts")), "dedup_wm")
    assert(spark.sql("SELECT count(DISTINCT content_hash) FROM dedup_wm")
      .head().getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM dedup_wm").head().getLong(0) == 2)
  }
}
