package graft.pipeline

import graft.io.TableIO
import graft.model.{Doc, LineageRow, RawDoc}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The full north-rule orchestration as one callable: snapshot-aware resume →
  * doc_id hash repartition → extract → commit docs and per-partition lineage
  * rows under the SAME snapshot id → idempotent on rerun.
  *
  * The extract output streams STRAIGHT INTO the parquet write — no
  * corpus-sized `.cache()` and no extra count actions (round-1 scale
  * finding). Each write task keeps one [[LineageRow.Tally]] and ships its
  * row through a `CollectionAccumulator`; the write is a single result stage
  * (extract is map-only), so each task's accumulator update is counted
  * exactly once by Spark's per-task dedup. The docs manifest's row count is
  * that tally's committed-doc total, so nothing reads the staged docs back.
  * When a committed snapshot exists to resume past, the same pass counts
  * the input through an `Observation` (on a fresh table nothing is skipped).
  *
  * Commit protocol (emulated Iceberg, TableIO): the docs snapshot is staged,
  * written, then finalized (manifest + atomic `current` flip); the lineage
  * rows carry that snapshot id and are committed to the metrics table second,
  * as the metrics snapshot with the same id — the two chains move in step.
  * Crash windows and their repair, both read from the manifests alone:
  *   - inside the docs write: the staged data dir is invisible (no manifest);
  *     TableIO's orphan sweep removes it and the rerun re-processes the batch.
  *   - between the docs commit and the lineage commit: the metrics chain's
  *     `current` is one behind the docs chain's, and the rerun rebuilds
  *     lineage from the data dir that docs snapshot added (failure lists are
  *     not reconstructable post-hoc — failed docs were never committed, so
  *     they are re-extracted on the next batch anyway — and are recorded
  *     empty).
  */
object Runner {

  final case class RunResult(
      snapshotId: Long,
      docsProcessed: Long,
      spansWritten: Long,
      failures: Long,
      skippedAlreadyDone: Long)

  def run(
      input: Dataset[RawDoc],
      outTableDir: String,
      metricsTableDir: String,
      repartitionTo: Int = 0): RunResult = {
    val spark = input.sparkSession
    import spark.implicits._

    // 0. repair the docs-committed-but-lineage-missing crash window FIRST —
    // unconditionally, not only on no-op reruns: a rerun with pending work
    // would otherwise commit snapshot N+1 and leave snapshot N's metrics
    // missing forever
    repairMissingLineage(spark, outTableDir, metricsTableDir)

    // 1. resume: drop already-committed doc_ids (snapshot-aware anti-join),
    // counting the input rows in the write's own pass
    val processed = Resume.processedIds(spark, outTableDir)
    val seen = Observation()
    val pending = processed.fold(input)(ids =>
      Resume.filterProcessed(input.observe(seen, count(lit(1)).as("rows")).toDF(), ids).as[RawDoc])
    // 2-3. extract with an explicit pre-stage doc_id hash repartition,
    // streaming straight into the staged parquet write; lineage tallied
    // in-flight under the snapshot id the write will commit as
    val par = if (repartitionTo > 0) repartitionTo
      else spark.sparkContext.defaultParallelism * 2
    val out = Pipeline.extract(pending, repartitionTo = par)

    val staged = TableIO.stage(outTableDir)
    val snapshotId = staged.id
    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("graft.lineage")
    val docs: Dataset[Doc] = out.mapPartitions { it =>
      val tally = new LineageRow.Tally(TaskContext.getPartitionId())
      val kept = it.flatMap { e =>
        tally.add(e.failure, e.spans.size)
        if (e.failure.nonEmpty) None
        else Some(Doc(e.doc_id, e.spans, e.title, e.source_path, e.mime_type,
          e.page_count, e.media, e.metadata))
      }
      // `++` evaluates its argument only once `kept` is exhausted, so the
      // partition's row ships after its last doc, empty partition or not
      kept ++ { acc.add(tally.row(snapshotId)); Iterator.empty }
    }
    docs.toDF().write.mode("errorifexists").parquet(staged.dataPath)

    val parts = acc.value.asScala.toSeq
    val okCount = parts.map(_.doc_count).sum
    val failureCount = parts.map(_.failure_count).sum
    val skipped =
      if (processed.isEmpty) 0L else seen.get("rows").asInstanceOf[Long] - okCount - failureCount
    if (okCount == 0) {
      // nothing committable: either fully resumed, or only permanently
      // failing docs remain — committing an empty snapshot every rerun
      // would grow the chain unboundedly without converging
      TableIO.abortStaged(staged)
      return RunResult(staged.parent.fold(-1L)(_.snapshotId), 0, 0, failureCount, skipped)
    }

    TableIO.finalizeStaged(staged, okCount)
    // 4. commit lineage under the same snapshot id (tiny: one row/partition)
    commitLineage(spark.createDataset(parts), metricsTableDir, snapshotId)
    RunResult(snapshotId, okCount, parts.map(_.span_count).sum, failureCount, skipped)
  }

  /** Repair the docs-committed-but-lineage-missing crash window: when the
    * metrics chain is behind the docs chain, rebuild the current docs
    * snapshot's lineage from the one data dir it added (the last entry of
    * its manifest's `dataDirs`).
    */
  private def repairMissingLineage(
      spark: SparkSession,
      outTableDir: String,
      metricsTableDir: String): Unit =
    TableIO.currentSnapshot(outTableDir).foreach { docs =>
      val covered = TableIO.currentSnapshot(metricsTableDir).fold(-1L)(_.snapshotId)
      if (covered < docs.snapshotId) {
        val added = TableIO.readDirs(spark, outTableDir, docs.dataDirs.takeRight(1),
          Encoders.product[Doc].schema)
        // committed docs are all successes: failure_count 0, failures []
        commitLineage(Pipeline.lineage(added.withColumn("failure", lit("")), docs.snapshotId),
          metricsTableDir, docs.snapshotId)
      }
    }

  /** Commit `lineage` as metrics snapshot `snapshotId`. The metrics chain's
    * next id must be that docs snapshot id; anything else means the chains
    * are out of step, and committing would file rows under the wrong id.
    */
  private def commitLineage(
      lineage: Dataset[LineageRow],
      metricsTableDir: String,
      snapshotId: Long): Unit = {
    val next = TableIO.currentSnapshot(metricsTableDir).fold(0L)(_.snapshotId + 1)
    if (next != snapshotId) throw new IllegalStateException(
      s"metrics snapshot $next would hold the lineage of docs snapshot $snapshotId")
    TableIO.commit(lineage.toDF(), metricsTableDir)
  }
}
