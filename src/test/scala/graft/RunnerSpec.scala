package graft

import graft.io.{SyntheticDocs, TableIO}
import graft.model.{LineageRow, RawDoc}
import graft.pipeline.{Pipeline, Runner}
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  /** `body`'s result and the number of Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val r = body
      TestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  private def parquetFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted

  /** snapshot id → (docs, spans, failures) sums and sorted failure samples. */
  private def lineage(metricsDir: String): Map[Long, ((Long, Long, Long), Seq[String])] = {
    import spark.implicits._
    TableIO.read(spark, metricsDir).get.as[LineageRow].collect().toSeq
      .groupBy(_.snapshot_id).map { case (id, rs) =>
        id -> ((rs.map(_.doc_count).sum, rs.map(_.span_count).sum, rs.map(_.failure_count).sum),
          rs.flatMap(_.failures).sorted)
      }
  }

  test("run → crash → rerun completes idempotently with consistent lineage") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("run-out"), tmp("run-metrics"))
    val gens = (0L until 80L).map(i => SyntheticDocs.generate(seed = 31, i))
    val full = spark.createDataset(gens.map(_.raw))

    // run 1 "crashes" after processing only the first half of the input
    val half = full.filter(_.doc_id < "doc-000000000040")
    val r1 = Runner.run(half, outDir, metricsDir)
    assert(r1.docsProcessed == 40 && r1.failures == 0 && r1.skippedAlreadyDone == 0)
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 40)

    // run 2 sees the full input, resumes past the committed 40
    val r2 = Runner.run(full, outDir, metricsDir)
    assert(r2.skippedAlreadyDone == 40)
    assert(r2.docsProcessed == 40)
    assert(r2.snapshotId == r1.snapshotId + 1)
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 80)

    // run 3 is a no-op
    val r3 = Runner.run(full, outDir, metricsDir)
    assert(r3.docsProcessed == 0 && r3.skippedAlreadyDone == 80)
    assert(r3.snapshotId == r2.snapshotId)

    // output table: every doc exactly once, spans match expectations
    val table = TableIO.read(spark, outDir).get
    assert(table.count() == 80)
    assert(table.select("doc_id").distinct().count() == 80)
    val got = table.select("doc_id", "spans")
      .as[(String, Seq[graft.model.Span])].collect().toMap
    gens.foreach(g => assert(got(g.raw.doc_id) == g.expected, g.raw.doc_id))

    // metrics table: lineage totals equal the docs/spans written, keyed by
    // the snapshots that wrote them
    val metrics = TableIO.read(spark, metricsDir).get
    assert(TableIO.currentSnapshot(metricsDir).get.rowCount == metrics.count())
    import org.apache.spark.sql.functions._
    val bySnap = metrics.groupBy("snapshot_id")
      .agg(sum("doc_count").as("docs"), sum("span_count").as("spans"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySnap(r1.snapshotId) == 40 && bySnap(r2.snapshotId) == 40)
    assert(metrics.agg(sum("span_count")).collect().head.getLong(0) ==
      gens.map(_.expected.size).sum.toLong)
  }

  test("failed docs are excluded from output but counted in lineage") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("run-out2"), tmp("run-metrics2"))
    val gens = (0L until 20L).map(i => SyntheticDocs.generate(seed = 33, i))
    val bad = graft.model.RawDoc("doc-zzz-bad", "no_such_dialect", "x", "", Nil, Nil)
    val input = spark.createDataset(gens.map(_.raw) :+ bad)
    val r = Runner.run(input, outDir, metricsDir)
    assert(r.docsProcessed == 20 && r.failures == 1)
    assert(TableIO.read(spark, outDir).get.count() == 20)
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 20)
    // the failed doc is retried on rerun (it was never committed)
    val r2 = Runner.run(input, outDir, metricsDir)
    assert(r2.skippedAlreadyDone == 20 && r2.failures == 1)
  }

  test("a fresh-table commit runs only the jobs that write; the no-op rerun is bounded") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("run-jobs"), tmp("run-jobs-metrics"))
    val input = spark.createDataset((0L until 40L).map(i => SyntheticDocs.generate(seed = 35, i).raw))
    // the docs write (its repartition's map stage, then the write) and
    // nothing else: the driver writes the lineage file itself, and there is
    // no input count and no read-back of either table
    val (r1, fresh) = countingJobs(Runner.run(input, outDir, metricsDir))
    assert(r1.docsProcessed == 40 && r1.skippedAlreadyDone == 0)
    assert(fresh == 2, s"$fresh jobs for a fresh-table commit")
    val lineageFiles = parquetFiles(s"$metricsDir/data-0")
    assert(lineageFiles.size == 1, lineageFiles)
    val sums = spark.read.parquet(lineageFiles.head)
      .agg(sum("doc_count"), sum("span_count"), sum("failure_count")).collect().head
    assert(sums.toSeq == Seq(r1.docsProcessed, r1.spansWritten, r1.failures), sums)
    // resume reads neither table back (the manifests answer the repair
    // check, the doc_ids are read with their declared type) and counts the
    // input in the write's own pass
    val (r2, rerun) = countingJobs(Runner.run(input, outDir, metricsDir))
    assert(r2.docsProcessed == 0 && r2.skippedAlreadyDone == 40)
    assert(rerun <= 3, s"$rerun jobs for a no-op rerun")
  }

  test("a crash inside the driver's lineage write is repaired on rerun") {
    import spark.implicits._
    val good = (0L until 40L).map(i => SyntheticDocs.generate(seed = 37, i).raw)
    val bad = RawDoc("doc-zzz-bad", "no_such_dialect", "x", "", Nil, Nil)
    val all = spark.createDataset(good :+ bad)
    // with and without the pointer's temp file left by a crash between its
    // write and its rename
    for (leftoverTmp <- Seq(false, true)) {
      val (outDir, metricsDir) = (tmp("cut-out"), tmp("cut-metrics"))
      // snapshot 0 records the permanently failing doc; snapshot 1 holds
      // only successes, so the repair can rebuild its lineage exactly
      // (failure samples of a lost lineage file are not reconstructable)
      Runner.run(spark.createDataset(good.take(20) :+ bad), outDir, metricsDir)
      Runner.run(spark.createDataset(good), outDir, metricsDir)
      val uncut = lineage(metricsDir)
      val uncutSnap = TableIO.currentSnapshot(metricsDir).get
      assert(uncut(0L)._2.size == 1 && uncutSnap.snapshotId == 1, uncut)

      // cut the metrics table back to a crash mid-way through writing
      // snapshot 1's file: a truncated part file, no manifest, `current` at 0
      val part = Paths.get(parquetFiles(s"$metricsDir/data-1").head)
      val bytes = Files.readAllBytes(part)
      Files.write(part, bytes.take(bytes.length / 2))
      Files.delete(Paths.get(metricsDir, "snap-1.json"))
      Files.write(Paths.get(metricsDir, "current"), "0".getBytes)
      if (leftoverTmp) Files.write(Paths.get(metricsDir, ".current.tmp-1"), "1".getBytes)

      val r1 = Runner.run(all, outDir, metricsDir)
      assert(r1 == Runner.RunResult(1, 0, 0, 1, 40), leftoverTmp)
      assert(lineage(metricsDir) == uncut, leftoverTmp)
      // the repair reports one row per partition it read, so its row count
      // is its own; the manifest still counts exactly the rows it names
      val repaired = TableIO.currentSnapshot(metricsDir).get
      assert((repaired.snapshotId, repaired.parentId, repaired.dataDirs) ==
        (uncutSnap.snapshotId, uncutSnap.parentId, uncutSnap.dataDirs))
      assert(repaired.rowCount == TableIO.read(spark, metricsDir).get.count())
      assert(new File(metricsDir).list().toSet ==
        Set("current", "data-0", "data-1", "snap-0.json", "snap-1.json"), leftoverTmp)
      assert(parquetFiles(s"$metricsDir/data-1").size == 1)

      // a second rerun adds nothing to either table
      val r2 = Runner.run(all, outDir, metricsDir)
      assert(r2 == r1)
      assert(TableIO.currentSnapshot(metricsDir).get == repaired)
      assert(TableIO.currentSnapshot(outDir).get.snapshotId == 1)
      assert(lineage(metricsDir) == uncut)
    }
  }
}
