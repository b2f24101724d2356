package graft

import graft.io.{SyntheticDocs, TableIO}
import graft.model.{LineageRow, RawDoc}
import graft.pipeline.{Pipeline, Runner}
import org.scalatest.funsuite.AnyFunSuite

/** Lineage results pinned before the lineage tally and the manifest-only
  * resume replaced the aggregate and the table read-backs: per-snapshot
  * `(doc_count, span_count, failure_count)` sums, the sorted multiset of
  * failure samples and the `RunResult`s of the Runner, repair and
  * `Pipeline.lineage` scenarios. Row counts are not pinned: how many
  * partitions report a row is not part of the result. Never edit a pinned
  * value to make this pass.
  */
class LineagePinSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private val Unknown = "IllegalArgumentException: unknown dialect: no_such_dialect"
  private val UnknownPipeline = "IllegalArgumentException: unknown dialect: nonexistent_dialect"

  /** snapshot id → (docs, spans, failures) sums and sorted failure samples. */
  private def bySnapshot(rows: Seq[LineageRow]): Map[Long, ((Long, Long, Long), Seq[String])] =
    rows.groupBy(_.snapshot_id).map { case (id, rs) =>
      id -> ((rs.map(_.doc_count).sum, rs.map(_.span_count).sum, rs.map(_.failure_count).sum),
        rs.flatMap(_.failures).sorted)
    }

  private def metrics(dir: String): Map[Long, ((Long, Long, Long), Seq[String])] = {
    import spark.implicits._
    bySnapshot(TableIO.read(spark, dir).map(_.as[LineageRow].collect().toSeq).getOrElse(Nil))
  }

  test("pinned: crash → rerun → no-op lineage and results") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("pin-run-out"), tmp("pin-run-metrics"))
    val full = spark.createDataset((0L until 80L).map(i => SyntheticDocs.generate(seed = 31, i).raw))
    val r1 = Runner.run(full.filter(_.doc_id < "doc-000000000040"), outDir, metricsDir)
    val r2 = Runner.run(full, outDir, metricsDir)
    val r3 = Runner.run(full, outDir, metricsDir)
    assert(Seq(r1, r2, r3) == Seq(
      Runner.RunResult(0, 40, 523, 0, 0),
      Runner.RunResult(1, 40, 335, 0, 40),
      Runner.RunResult(1, 0, 0, 0, 80)))
    assert(metrics(metricsDir) == Map(
      0L -> ((40L, 523L, 0L), Nil),
      1L -> ((40L, 335L, 0L), Nil)))
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 80)
  }

  test("pinned: failed docs lineage and results") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("pin-fail-out"), tmp("pin-fail-metrics"))
    val gens = (0L until 20L).map(i => SyntheticDocs.generate(seed = 33, i).raw)
    val bad = RawDoc("doc-zzz-bad", "no_such_dialect", "x", "", Nil, Nil)
    val input = spark.createDataset(gens :+ bad)
    val r1 = Runner.run(input, outDir, metricsDir)
    val r2 = Runner.run(input, outDir, metricsDir)
    assert(Seq(r1, r2) == Seq(
      Runner.RunResult(0, 20, 249, 1, 0),
      Runner.RunResult(0, 0, 0, 1, 20)))
    assert(metrics(metricsDir) == Map(0L -> ((20L, 249L, 1L), Seq(Unknown))))
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 20)
  }

  test("pinned: no-op rerun repairs the missing lineage") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("pin-rep-out"), tmp("pin-rep-metrics"))
    val input = spark.createDataset((0L until 30L).map(i => SyntheticDocs.generate(seed = 41, i).raw))
    TableIO.commit(Pipeline.toDocsDF(Pipeline.extract(input)), outDir)
    val r1 = Runner.run(input, outDir, metricsDir)
    val r2 = Runner.run(input, outDir, metricsDir)
    assert(Seq(r1, r2) == Seq(
      Runner.RunResult(0, 0, 0, 0, 30),
      Runner.RunResult(0, 0, 0, 0, 30)))
    assert(metrics(metricsDir) == Map(0L -> ((30L, 492L, 0L), Nil)))
  }

  test("pinned: a rerun with pending work repairs the missing lineage") {
    import spark.implicits._
    val (outDir, metricsDir) = (tmp("pin-rep2-out"), tmp("pin-rep2-metrics"))
    val gens = (0L until 40L).map(i => SyntheticDocs.generate(seed = 47, i).raw)
    TableIO.commit(Pipeline.toDocsDF(Pipeline.extract(spark.createDataset(gens.take(20)))), outDir)
    val r = Runner.run(spark.createDataset(gens), outDir, metricsDir)
    assert(r == Runner.RunResult(1, 20, 149, 0, 20))
    assert(metrics(metricsDir) == Map(
      0L -> ((20L, 418L, 0L), Nil),
      1L -> ((20L, 149L, 0L), Nil)))
    assert(TableIO.currentSnapshot(outDir).get.rowCount == 40)
  }

  test("pinned: Pipeline.lineage sums and failure samples at every partitioning") {
    import spark.implicits._
    val gens = (0L until 50L).map(i => SyntheticDocs.generate(seed = 5, i).raw)
    val bad = RawDoc("doc-bad", "nonexistent_dialect", "x", "", Nil, Nil)
    val manyBad = (0 until LineageRow.MaxFailureSample + 20).map(i => bad.copy(doc_id = s"doc-bad-$i"))
    val oneBad = spark.createDataset(gens :+ bad)
    val lotsBad = spark.createDataset(gens ++ manyBad)
    def at(raw: org.apache.spark.sql.Dataset[RawDoc], n: Int) =
      bySnapshot(Pipeline.lineage(Pipeline.extract(raw, repartitionTo = n), 9L).collect().toSeq)
    for (n <- Seq(0, 1, 4, 7)) {
      assert(at(oneBad, n) == Map(9L -> ((50L, 1182L, 1L), Seq(UnknownPipeline))), s"one bad, $n")
      // one partition keeps only the first MaxFailureSample messages
      val kept = if (n == 1) LineageRow.MaxFailureSample else LineageRow.MaxFailureSample + 20
      assert(at(lotsBad, n) ==
        Map(9L -> ((50L, 1182L, LineageRow.MaxFailureSample + 20L), Seq.fill(kept)(UnknownPipeline))),
        s"many bad, $n")
    }
  }
}
