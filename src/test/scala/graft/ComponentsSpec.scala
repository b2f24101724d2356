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

  /** `body`'s result and the number of Spark jobs it started that `counted`
    * accepts.
    */
  private def jobsDuring[T](counted: SparkListenerJobStart => Boolean)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (counted(e)) jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("the 10-node graph clusters in at most 5 Spark jobs") {
    // every round is driver-synchronous: its jobs run one after another, so
    // the job count is the fixed cost of a components call on a small graph
    val (nodes, pairs) = tenNodeGraph
    val (_, jobs) = jobsDuring(_ => true)(Dedup.connectedComponents(nodes, pairs).collect())
    assert(jobs <= 5, s"$jobs jobs for the 10-node graph")
  }

  test("a node id listed twice gets one row; a null node id keeps its (null, null) row") {
    val nodes = Seq[java.lang.Long](1L, 2L, 2L, 3L, null, 4L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (4L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).sortBy(_._1.map(_.toString))
    assert(got.toSeq == Seq(None -> None, Some(1L) -> Some(1L), Some(2L) -> Some(1L),
      Some(3L) -> Some(3L), Some(4L) -> Some(3L)))
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

  test("maxIters = 1 on two shuffled paths over-segments and never merges") {
    // two disjoint 64-node paths, numbered by one shuffle over both: one
    // round cannot contract either to a star. What must hold of a partial
    // result: each path keeps several labels, no label exceeds its node's
    // id, and no label crosses from one path to the other. The stop is
    // logged as one WARN.
    val perm = new scala.util.Random(64).shuffle((0L until 128L).toList).toArray
    val paths = Seq(perm.take(64), perm.drop(64))
    val nodes = (0L until 128L).toDF("doc_id")
    val pairs = paths.flatMap(p => p.indices.init.map(i => (p(i), p(i + 1)))).toDF("id_a", "id_b")
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val logger = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext].getLogger("graft.ops.Dedup")
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender("capture", null, null,
        true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    val got = try {
      Dedup.connectedComponents(nodes, pairs, maxIters = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally logger.removeAppender(capture)
    for (path <- paths) {
      val labels = path.map(got)
      assert(labels.distinct.length > 1, "one round must not contract a 64-node path")
      assert(path.forall(id => got(id) <= id), "a label never exceeds its node's id")
      assert(labels.forall(path.contains), "no label crosses to the other path")
    }
    assert(warnings.size == 1 && warnings.peek.contains("rounds = 1,"), warnings)
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
    // 999 rounds; star contraction needs about log2 of the length, well
    // inside the default maxIters=25
    val n = 1000
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), "every chain node must reach label 0")
  }

  test("a randomly numbered 200-node path is exact in at most 16 rounds") {
    // the round count must not depend on the numbering: 16 = 2·log2(200),
    // at the default maxIters. A round is one job outside any SQL
    // execution (the edge list and the final labelling run as SQL
    // executions)
    val perm = new scala.util.Random(5).shuffle((0L until 200L).toList).toArray
    val nodes = (0L until 200L).toDF("doc_id")
    val pairs = (0 until 199).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (got, rounds) = jobsDuring(e =>
        e.properties == null || e.properties.getProperty("spark.sql.execution.id") == null) {
      Dedup.connectedComponents(nodes, pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L), "every path node must reach label 0")
    assert(rounds >= 1 && rounds <= 16, s"$rounds rounds")
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

  /** A random graph over local ids `0 until n`: a path, star, clique,
    * forest or sparse random graph, plus isolated nodes, `a == b` pairs and
    * pairs to ids outside the node set (local ids from `n` up).
    */
  private def randomGraph(rnd: scala.util.Random): (Int, Seq[(Int, Int)]) = {
    val n = 1 + rnd.nextInt(40)
    val order = rnd.shuffle((0 until n).toList).toArray
    val core: Seq[(Int, Int)] = rnd.nextInt(5) match {
      case 0 => (0 until n - 1).map(i => (order(i), order(i + 1)))
      case 1 => (1 until n).map(i => (order(0), order(i)))
      case 2 => for (i <- 0 until n; j <- i + 1 until n) yield (order(i), order(j))
      case 3 => (1 until n).filter(_ => rnd.nextInt(4) > 0).map(i => (order(i), order(rnd.nextInt(i))))
      case _ => Seq.fill(n)((rnd.nextInt(n), rnd.nextInt(n)))
    }
    val loops = Seq.fill(rnd.nextInt(3))(rnd.nextInt(n)).map(i => (i, i))
    val outside = Seq.fill(rnd.nextInt(3))((rnd.nextInt(n), n + rnd.nextInt(3)))
    (n, rnd.shuffle(core ++ loops ++ outside).map(e => if (rnd.nextBoolean()) e.swap else e))
  }

  /** Min-label union-find over the pairs whose both ends are nodes. */
  private def unionFind[K](nodes: Seq[K], pairs: Seq[(K, K)], lt: (K, K) => Boolean): Map[K, K] = {
    val parent = scala.collection.mutable.Map(nodes.map(k => k -> k): _*)
    def find(x: K): K = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, b) <- pairs if parent.contains(a) && parent.contains(b)) {
      val (ra, rb) = (find(a), find(b))
      if (lt(ra, rb)) parent(rb) = ra else if (lt(rb, ra)) parent(ra) = rb
    }
    nodes.map(k => k -> find(k)).toMap
  }

  test("labels equal a union-find minimum on 300 random graphs, Long and String ids") {
    // 6 batches of 50 graphs; a batch is the disjoint union of its graphs,
    // numbered by one shuffle across the whole batch, so each call checks
    // 50 graphs at once. String ids mix lengths and non-ASCII characters:
    // their minimum is Spark SQL's (UTF-8 byte order), not String.compareTo.
    val rnd = new scala.util.Random(300)
    for (batch <- 0 until 6) {
      val graphs = Seq.fill(50)(randomGraph(rnd))
      val offsets = graphs.scanLeft(0)(_ + _._1 + 3)
      val total = offsets.last
      val ids = rnd.shuffle(Iterator.continually(rnd.nextLong() % 1000000000L).distinct
        .take(total).toSeq).toArray
      val nodeIdx = graphs.zip(offsets).flatMap { case ((n, _), o) => o until o + n }
      val pairIdx = graphs.zip(offsets).flatMap { case ((_, ps), o) => ps.map { case (a, b) => (o + a, o + b) } }
      val str = Array("k", "\u00e9", "\ud83d\ude00", "\uff5e", "K", "k0")
      def sid(i: Int): String = str(i % str.length) + java.lang.Long.toString(ids(i), 36)

      val longNodes = nodeIdx.map(ids(_))
      val longPairs = pairIdx.map { case (a, b) => (ids(a), ids(b)) }
      val longOut = Dedup.connectedComponents(longNodes.toDF("doc_id"), longPairs.toDF("id_a", "id_b"),
        maxIters = 64)
      assert(longOut.schema("cluster_id").dataType == org.apache.spark.sql.types.LongType)
      val longGot = longOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(longGot == unionFind[Long](longNodes, longPairs, _ < _), s"Long ids, batch $batch")

      val strNodes = nodeIdx.map(sid)
      val strPairs = pairIdx.map { case (a, b) => (sid(a), sid(b)) }
      val strOut = Dedup.connectedComponents(strNodes.toDF("doc_id"), strPairs.toDF("id_a", "id_b"),
        maxIters = 64)
      assert(strOut.schema("cluster_id").dataType == org.apache.spark.sql.types.StringType)
      val strGot = strOut.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val utf8Lt = (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      assert(strGot == unionFind[String](strNodes, strPairs, utf8Lt), s"String ids, batch $batch")
    }
  }
}
