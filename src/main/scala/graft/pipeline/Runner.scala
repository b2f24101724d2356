package graft.pipeline

import graft.io.TableIO
import graft.model.{Doc, LineageRow, RawDoc}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The full north-rule orchestration as one callable: snapshot-aware resume →
  * doc_id hash repartition → extract → commit docs and per-partition lineage
  * rows under the SAME snapshot id → idempotent on rerun.
  *
  * The extract output streams STRAIGHT INTO the parquet write — no
  * corpus-sized `.cache()` and no extra count actions (round-1 scale
  * finding). Per-partition lineage is tallied by the same pass through a
  * `CollectionAccumulator` (one small row per partition); the write is a
  * single result stage (extract is map-only), so each task's accumulator
  * update is counted exactly once by Spark's per-task dedup. The docs
  * manifest's row count is that tally's committed-doc total, so nothing reads
  * the staged docs back, and the input is counted only when a committed
  * snapshot exists to resume past (on a fresh table nothing is skipped).
  *
  * Commit protocol (emulated Iceberg, TableIO): the docs snapshot is staged,
  * written, then finalized (manifest + atomic `current` flip); the lineage
  * rows carry that snapshot id and are committed to the metrics table second.
  * Crash windows and their repair:
  *   - inside the docs write: the staged data dir is invisible (no manifest);
  *     TableIO's orphan sweep removes it and the rerun re-processes the batch.
  *   - between the docs commit and the lineage commit: the rerun detects the
  *     visible docs snapshot with no metrics rows and reconstructs lineage
  *     from the committed snapshot itself (failure lists are not
  *     reconstructable post-hoc — failed docs were never committed, so they
  *     are re-extracted on the next batch anyway — and are recorded empty).
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
    TableIO.currentSnapshot(outTableDir).foreach { s =>
      repairMissingLineage(spark, outTableDir, metricsTableDir, s.snapshotId)
    }

    // 1. resume: drop already-committed doc_ids (snapshot-aware anti-join)
    val processed = Resume.processedIds(spark, outTableDir)
    val pending: Dataset[RawDoc] = processed match {
      case Some(ids) => Resume.filterProcessed(input.toDF(), ids).as[RawDoc]
      case None => input
    }
    // 2-3. extract with an explicit pre-stage doc_id hash repartition,
    // streaming straight into the staged parquet write; lineage tallied
    // in-flight
    val par = if (repartitionTo > 0) repartitionTo
      else spark.sparkContext.defaultParallelism * 2
    val out = Pipeline.extract(pending, repartitionTo = par)

    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("graft.lineage")
    val docs: Dataset[Doc] = out.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var docCount = 0L
      var spanCount = 0L
      var failCount = 0L
      val fails = ArrayBuffer.empty[String] // bounded sample, count stays exact
      var tallied = false
      new Iterator[Doc] {
        private val inner = it.flatMap { e =>
          if (e.failure.nonEmpty) {
            failCount += 1
            if (fails.size < LineageRow.MaxFailureSample) fails += e.failure
            None
          }
          else {
            docCount += 1
            spanCount += e.spans.size
            Some(Doc(e.doc_id, e.spans, e.title, e.source_path, e.mime_type,
              e.page_count, e.media, e.metadata))
          }
        }
        override def hasNext: Boolean = {
          val h = inner.hasNext
          if (!h && !tallied) {
            // snapshot id not yet known: filled in on the driver below
            acc.add(LineageRow(-1L, pid, docCount, spanCount, failCount, fails.toSeq))
            tallied = true
          }
          h
        }
        override def next(): Doc = inner.next()
      }
    }

    val staged = TableIO.stage(outTableDir)
    docs.toDF().write.mode("errorifexists").parquet(staged.dataPath)

    val parts = {
      val l = acc.value
      val buf = ArrayBuffer.empty[LineageRow]
      val it = l.iterator(); while (it.hasNext) buf += it.next()
      buf.toSeq
    }
    val okCount = parts.map(_.doc_count).sum
    val failureCount = parts.map(_.failure_count).sum
    val pendingCount = okCount + failureCount
    val skipped = if (processed.isEmpty) 0L else input.count() - pendingCount
    if (okCount == 0) {
      // nothing committable: either fully resumed, or only permanently
      // failing docs remain — committing an empty snapshot every rerun
      // would grow the chain unboundedly without converging
      TableIO.abortStaged(staged)
      val snap = TableIO.currentSnapshot(outTableDir).map(_.snapshotId).getOrElse(-1L)
      return RunResult(snap, 0, 0, failureCount, skipped)
    }

    val snap = TableIO.finalizeStaged(staged, okCount)

    // 4. commit lineage under the same snapshot id (tiny: one row/partition)
    val lineage = parts.map(_.copy(snapshot_id = snap.snapshotId))
    TableIO.commit(spark.createDataset(lineage).toDF(), metricsTableDir)

    RunResult(snap.snapshotId, okCount, parts.map(_.span_count).sum,
      failureCount, skipped)
  }

  /** Repair the docs-committed-but-lineage-missing crash window: rebuild the
    * snapshot's metrics rows from the committed docs themselves.
    */
  private def repairMissingLineage(
      spark: SparkSession,
      outTableDir: String,
      metricsTableDir: String,
      docsSnapshotId: Long): Unit = {
    val hasRows = TableIO.read(spark, metricsTableDir)
      .exists(m => !m.filter(col("snapshot_id") === docsSnapshotId).isEmpty)
    if (!hasRows) {
      TableIO.readAsOf(spark, outTableDir, docsSnapshotId).foreach { docs =>
        // only the rows ADDED by this snapshot (not its ancestors)
        val prior = TableIO.readAsOf(spark, outTableDir, docsSnapshotId - 1)
        val added = prior match {
          case Some(p) => docs.join(p.select("doc_id"), Seq("doc_id"), "left_anti")
          case None => docs
        }
        // committed docs are all successes: failure_count 0, failures []
        val lineage = Pipeline.lineage(added.withColumn("failure", lit("")), docsSnapshotId)
        if (!lineage.isEmpty) TableIO.commit(lineage.toDF(), metricsTableDir)
      }
    }
  }
}
