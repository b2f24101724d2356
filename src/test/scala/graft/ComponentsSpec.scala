package graft

import graft.ops.Dedup
import graft.pipeline.Pipeline
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components over near-dup pair graphs: multi-hop chains must
  * collapse transitively (the property pair lists alone cannot give you),
  * components must stay separate, singletons keep their own id.
  */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-cc-test")
  import spark.implicits._

  // component A: chain 0-1-2-3-4 (diameter 4 — needs >1 propagation round)
  // component B: triangle 5-6, 6-7, 5-7; singletons: 8, 9
  private def tenNodeGraph = ((0L to 9L).toDF("doc_id"),
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("id_a", "id_b"))

  test("chains collapse transitively; components stay separate; singletons survive") {
    spark.sparkContext.setLogLevel("WARN")
    val (nodes, pairs) = tenNodeGraph
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((5L to 7L).forall(got(_) == 5L))
    assert(got(8L) == 8L && got(9L) == 9L)
  }

  test("the 10-node graph clusters in at most 24 Spark jobs") {
    // every round is driver-synchronous: its jobs run one after another, so
    // the job count is the fixed cost of a components call on a small graph
    val (nodes, pairs) = tenNodeGraph
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      Dedup.connectedComponents(nodes, pairs).collect()
      TestBus.drain(sc)
    } finally sc.removeSparkListener(counter)
    assert(jobs.get <= 24, s"${jobs.get} jobs for the 10-node graph")
  }

  test("ids in pairs but not in nodes get no row and bridge nothing") {
    val nodes = Seq(1L, 2L, 3L, 5L).toDF("doc_id")
    // 1-4-3 would join 1 and 3 through 4, which is not a node; 7-8 has no
    // node at either end
    val pairs = Seq((1L, 4L), (4L, 3L), (2L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L, 2L -> 2L, 5L -> 2L))
  }

  test("maxIters = 1 on a chain stops at one hop plus one jump (over-segmented)") {
    // round 1: hop gives i -> i-1, the jump gives i -> i-2 (floored at 0)
    val nodes = (0L to 7L).toDF("doc_id")
    val pairs = (0L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs, maxIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    assert(got.toSeq == Seq(0L, 0L, 0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("reversed-direction edges and high ids propagate to the minimum") {
    val nodes = Seq(10L, 3L, 99L, 50L).toDF("doc_id")
    val pairs = Seq((99L, 10L), (50L, 99L), (10L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(3L))
  }

  test("adversarial chain-of-1000 converges within default maxIters (pointer jumping)") {
    // a path graph of diameter 999: plain one-hop propagation would need
    // 999 rounds; the pointer-jump shortcut brings it under log2-ish
    // rounds, well inside the default maxIters=25
    val n = 1000
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), "every chain node must reach label 0")
  }

  test("a randomly numbered 200-node path converges when maxIters allows its ~40 rounds") {
    // min-label jumping halves distances only along increasing ids, so a
    // shuffled path needs far more than log2 rounds; the per-round plan
    // must stay cheap to analyse however many rounds run
    val perm = new scala.util.Random(5).shuffle((0L until 200L).toList).toArray
    val nodes = (0L until 200L).toDF("doc_id")
    val pairs = (0 until 199).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs, maxIters = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L), "every path node must reach label 0")
  }

  test("reliable checkpoint path: with a checkpoint dir set, results are identical") {
    // NOTE: a SparkContext's checkpoint dir cannot be unset, and the dir
    // must outlive any later checkpoint in this shared session — so it
    // stays for the JVM's lifetime (tmp, OS-cleaned). Suites running after
    // this one simply exercise the reliable path too.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val nodes = (0L to 40L).toDF("doc_id")
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L))
    // the reliable path actually wrote checkpoint data
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, "reliable checkpoint must persist to the dir")
  }

  test("canonical selection composes: keep doc_id == cluster_id") {
    val nodes = (0L to 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.connectedComponents(nodes, pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 3L, 4L))
  }
}
