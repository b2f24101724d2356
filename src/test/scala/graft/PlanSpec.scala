package graft

import graft.ops.{Dedup, Similarity}
import graft.pipeline.{Pipeline, SpanOps}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests locking the scale claims: the ops that were
  * rewritten away from window sorts must never silently regrow a Window
  * exchange, and pushable predicates must reach the scan. (Plan drift is a
  * regression class — see graft.Plans for the human-audit dump.)
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val vecs = {
    import spark.implicits._
    (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7.3 + d).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ANN top-k plans carry a partial aggregate, not a window sort") {
    val bf = plan(Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 3), k = 4))
    assert(!bf.contains("Window"), bf)
    assert(bf.contains("ObjectHashAggregate"), bf)
    val ivfDf = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 3),
      k = 4, nCells = 4, nProbe = 2)
    val ivf = plan(ivfDf)
    assert(!ivf.contains("Window"), ivf)
    // assignment is a pure projection (the optimizer even constant-folds it
    // for this in-memory relation); the native expression is in the logical
    // plan and nothing introduces an Exchange below the scored join's
    // corpus side
    assert(ivfDf.queryExecution.logical.toString.toLowerCase.contains("nearestcentroid"))
  }

  test("IVF index is cell-clustered and the probe join broadcasts the probes") {
    val ivf = Similarity.ivfIndex(vecs, nCells = 4)
    // the clustering exchange: corpus hash-partitioned on cell_id, so each
    // probed cell's vectors are contiguous (the write-once partitionBy
    // analog for the in-memory path)
    assert(plan(ivf.index).contains("hashpartitioning(cell_id"), plan(ivf.index))
    val probed = Similarity.ivfTopKWithIndex(ivf, vecs.filter(col("vec_id") < 3),
      k = 4, nProbe = 2)
    val p = plan(probed)
    // probes broadcast into the clustered index — the index side is NOT
    // re-shuffled by the join (its only exchange is the cell clustering)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // identical results to the one-shot path (same centroids, same cells)
    val oneShot = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 3),
      k = 4, nCells = 4, nProbe = 2)
    assert(probed.collect().toSet == oneShot.collect().toSet)
  }

  test("boilerplate removal: anti-join + aggregates, no window, no cross join") {
    import spark.implicits._
    val docs = (0 until 30).map(i => (i.toLong, s"BANNER\n\nbody $i")).toDF("doc_id", "text")
    val df = graft.ops.TextAnalysis.removeBoilerplateParagraphs(docs, maxDocFreq = 5)
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftAnti"), p) // hot-paragraph filter is an anti-join
  }

  test("exact-substring dedup: aggregates + joins, no window, no cross join") {
    import spark.implicits._
    val docs = (0 until 30).map(i => (i.toLong, s"c0 c1 c2 c3 c4 unique$i tail$i"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.withDuplicateWindowFraction(docs, k = 4))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // window-df aggregation must partial-combine map-side before the shuffle
    assert(p.contains("partial_count"), p)
  }

  test("dedup plans: survivors and banded LSH have no window sort") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"some words $i repeated $i here again and again"))
      .toDF("doc_id", "text")
    assert(!plan(Dedup.exactSurvivors(docs)).contains("Window"))
    // all four pair generators: no window sort, and nothing degraded to a
    // cartesian product
    val generators = Seq(
      "minhash" -> Dedup.minhashPairs(docs, threshold = 0.5),
      "simhash" -> Dedup.simhashPairs(docs),
      "jaccard" -> Dedup.jaccardPairs(docs, threshold = 0.5, maxDocFreq = 10),
      "embedding" -> Dedup.embeddingNearDups(vecs, threshold = 0.5))
    for ((name, df) <- generators; p = plan(df)) {
      assert(!p.contains("Window"), s"$name: $p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), s"$name: $p")
    }
  }

  test("minhashPairs shingles each doc once and scans its input once") {
    // every plan one call executes (with AQE stages and reused exchanges
    // walked once each): the shingle hash expression and the parquet scan
    // each appear exactly once across them
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("minhash-plan").toString + "/docs"
    (0L until 50L).map(i => (i, s"some words ${i % 10} repeated here again and again ${i % 3}"))
      .toDF("doc_id", "text").write.parquet(dir)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    session.listenerManager.register(listener)
    try {
      Dedup.minhashPairs(spark.read.parquet(dir), threshold = 0.5).collect()
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally session.listenerManager.unregister(listener)
    val executed = plans.toArray(Array.empty[SparkPlan]).toSeq
    assert(executed.nonEmpty)
    // a scan lists its data filters for pruning only; the Filter above it
    // evaluates them
    val shingling = executed.map(p => collect(p) { case n if !n.isInstanceOf[FileSourceScanExec] =>
      n.expressions.map(_.collect { case e: graft.functions.Md5ShingleH60 => e }.size).sum
    }.sum).sum
    val scans = executed.map(p => collect(p) { case s: FileSourceScanExec => s }.size).sum
    assert((shingling, scans) == (1, 1), executed.mkString("\n"))
  }

  test("calibration-slice predicate is pushed into the parquet scan") {
    // self-contained fixture: write a parquet table, check pushdown on it
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pushdown").toString + "/documents"
    (0L until 100L).map(i => (i, s"text $i", i * 3)).toDF("doc_id", "text", "n_chars")
      .write.parquet(dir)
    val p = plan(spark.read.parquet(dir)
      .filter(col("doc_id") < 50).select("doc_id", "text"))
    assert(p.contains("LessThan(doc_id,50)"), p) // PushedFilters
    assert(p.contains("ReadSchema") && !p.contains("n_chars"), p) // pruned
  }

  test("skew-aware assemble: ONE exchange (round 6), no window, no sort") {
    import spark.implicits._
    val docs = Pipeline.toDocsDF(Pipeline.extract(
      spark.createDataset((0L until 50L).map(i => graft.io.SyntheticDocs.generate(42, i).raw))))
    val p = plan(SpanOps.assembleSkewAware(SpanOps.explodeSpans(docs)))
    assert(!p.contains("Window"), p)
    // the round-6 invariant: the span payload crosses exactly one exchange
    // (a reintroduced two-phase salt form would show two) with a partial +
    // final aggregate pair around it
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("ObjectHashAggregate|HashAggregate".r.findAllIn(p).size >= 2, p)
    // the aggregate builds the final span shape: above the exchange there is
    // only the final aggregate — no Project, no transform lambda
    val top = p.substring(0, p.indexOf("Exchange"))
    assert(!top.contains("Project") && !top.contains("transform") && !top.contains("lambda"), p)
  }

  test("extract(repartitionTo) hash-partitions on doc_id itself, no salt column") {
    import spark.implicits._
    val raw = spark.createDataset((0L until 20L).map(i => graft.io.SyntheticDocs.generate(42, i).raw))
    val p = plan(Pipeline.extract(raw, repartitionTo = 8).toDF())
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("pmod(xxhash64"), p)
  }

  test("Pipeline.lineage tallies each partition in place: no exchange") {
    import spark.implicits._
    val raw = spark.createDataset((0L until 30L).map(i => graft.io.SyntheticDocs.generate(42, i).raw))
    val lineage = Pipeline.lineage(Pipeline.extract(raw), snapshotId = 0L)
    assert(lineage.collect().map(_.doc_count).sum == 30L)
    val p = plan(lineage.toDF()) // the executed (final) plan
    assert(!p.contains("Exchange"), p)
    assert(p.contains("MapPartitions"), p)
  }

  test("ingestion: filter chain sits between the listing and the byte-read stage") {
    val b = java.nio.file.Files.createTempDirectory("planspec-ingest")
    java.nio.file.Files.createDirectories(b.resolve("x"))
    java.nio.file.Files.write(b.resolve("a.md"), "# A".getBytes)
    java.nio.file.Files.write(b.resolve("x/b.md"), "# B".getBytes)
    val raw = graft.io.Ingest.fromDirectory(spark, b.toString,
      pattern = "**/*.md", exclude = Seq("x/**"))
    val p = raw.queryExecution.executedPlan.toString
    // plan prints root-first: read MapPartitions → spread Exchange → Filter
    // (include/exclude RLIKE + MIME INSET) → Union(top files, listing)
    val readMap = p.indexOf("MapPartitions")
    val spread = p.indexOf("Exchange hashpartitioning")
    val filter = p.indexOf("Filter")
    val listing = p.indexOf("Union")
    assert(readMap >= 0 && spread > readMap && filter > spread && listing > filter, p)
    assert(p.contains("RLIKE") && p.contains("INSET"), p)
    // and the filters work: only a.md survives (x/** excluded), never read
    assert(raw.collect().map(_.doc_id).toSeq == Seq("a.md"))
  }
}
