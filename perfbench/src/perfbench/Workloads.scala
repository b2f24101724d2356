package perfbench

import graft.io.{SyntheticDocs, TableIO}
import graft.model.RawDoc
import graft.ops.Dedup
import graft.pipeline.{Pipeline, Runner, SpanOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one pass over a workload's staged input.
  *
  * @param seconds  wall time of the pass's timed action
  * @param ok       docs fully processed
  * @param failed   docs that ended as failure rows or went missing
  * @param errors   output checks this pass failed (empty = correct)
  * @param counters listener counters of the timed action (traced passes)
  */
final case class Pass(
    seconds: Double,
    ok: Long,
    failed: Long,
    errors: Seq[String],
    counters: Option[Counters] = None,
    resumeSeconds: Option[Double] = None,
    resumeJobs: Option[Long] = None)

/** One workload: how to stage its seeded input, run one pass through the
  * engine's public entry points, and split a pass into noop-sink prefixes.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  def docs: Long

  /** One set-up repetition: generate the seeded input and stage it as
    * parquet under `work`, overwriting the previous repetition's copy.
    */
  def stage(): Unit

  def pass(tracer: Option[Tracer]): Pass

  /** Checks run once after the timed passes. */
  def finalChecks(): Seq[String] = Nil

  /** Input and output facts of the last pass, for the run's info line. */
  def facts: Map[String, Double] = Map.empty

  /** Noop-sink prefixes of the pass, shortest first. */
  def prefixes: Seq[(String, () => Unit)]

  /** Layer seconds from the prefix medians and the full-pass median. */
  def layers(prefix: Map[String, Double], full: Double): Map[String, Double]

  /** The staged rows the per-kind kernel timings run over. */
  def kernelRows(perKind: Int): Seq[RawDoc] = Nil

  protected def inputPath: String = s"$work/input"

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected def action[T](tracer: Option[Tracer])(body: => T): (T, Double, Option[Counters]) =
    tracer match {
      case Some(t) =>
        val (r, s, c) = t.measure(body)
        (r, s, Some(c))
      case None =>
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9, None)
    }

  protected def rawDocs: Dataset[RawDoc] = {
    import spark.implicits._
    spark.read.parquet(inputPath).as[RawDoc]
  }

  protected def sampleByKind(ds: Dataset[RawDoc], perKind: Int): Seq[RawDoc] = {
    val kinds = ds.select("payload_kind").distinct().collect().map(_.getString(0)).sorted
    kinds.toSeq.flatMap(k => ds.filter(col("payload_kind") === k).limit(perKind).collect())
  }

  protected def cores: Int = spark.sparkContext.defaultParallelism
}

/** extract → explode → assemble over [[SyntheticDocs]] documents
  * `index = i * stride`, i < n, into a sink that hashes every assembled
  * span. The sink's per-doc `xxhash64(doc_id, spans)`, folded with
  * `bit_xor` (a plain `sum` overflows under ANSI), plus doc and span counts,
  * must equal the same fold over the generator's expected spans, which is
  * computed once after the timed passes.
  */
final class SpanWorkload(spark: SparkSession, seed: Long, work: String,
    n: Long, stride: Long) extends Workload(spark, seed, work) {
  import spark.implicits._

  def docs: Long = n
  private val folds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def fold(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(col("doc_id"), col("spans"))), count(lit(1)),
      sum(size(col("spans")))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def stage(): Unit = {
    val (s, st) = (seed, stride)
    spark.range(0, n, 1, cores)
      .map(i => SyntheticDocs.generate(s, i * st).raw)
      .write.mode("overwrite").parquet(inputPath)
  }

  /** Every pass's fold = the generator's expected spans, folded alike. */
  override def finalChecks(): Seq[String] = {
    val (s, st) = (seed, stride)
    val truth = fold(spark.range(0, n, 1, cores)
      .map { i => val g = SyntheticDocs.generate(s, i * st); (g.raw.doc_id, g.expected) }
      .toDF("doc_id", "spans").filter(size(col("spans")) > 0))
    folds.distinct.filter(_ != truth).map(got =>
      s"assembled (xor, docs, spans) = $got, generator truth = $truth").toSeq
  }

  /** The extract output the explode consumes: Catalyst prunes the other
    * ExtractOut fields from the serializer, so the prefix sink must too.
    */
  private def extracted: DataFrame =
    Pipeline.toDocsDF(Pipeline.extract(rawDocs)).select("doc_id", "spans")
  private def assembled: DataFrame = SpanOps.assembleSkewAware(SpanOps.explodeSpans(extracted))

  def pass(tracer: Option[Tracer]): Pass = {
    val (got, sec, c) = action(tracer)(fold(assembled))
    folds += got
    Pass(sec, got._2, n - got._2, Nil, c)
  }

  override def facts: Map[String, Double] =
    folds.lastOption.map(f => Map("spans" -> f._3.toDouble, "spans_per_doc" -> f._3.toDouble / n))
      .getOrElse(Map.empty)

  def prefixes: Seq[(String, () => Unit)] = Seq(
    "scan" -> (() => noop(spark.read.parquet(inputPath))),
    "roundtrip" -> (() => noop(rawDocs.map(identity).toDF())),
    "extract" -> (() => noop(extracted)),
    "explode" -> (() => noop(SpanOps.explodeSpans(extracted))),
    "assemble" -> (() => noop(assembled)))

  def layers(p: Map[String, Double], full: Double): Map[String, Double] = Map(
    "io.scan_s" -> p("scan"),
    "model.rawdoc_roundtrip_s" -> (p("roundtrip") - p("scan")),
    "pipeline.extract_s" -> (p("extract") - p("roundtrip")),
    "pipeline.explode_s" -> (p("explode") - p("extract")),
    "pipeline.assemble_s" -> (p("assemble") - p("explode")),
    "pipeline.sink_s" -> (full - p("assemble")))

  override def kernelRows(perKind: Int): Seq[RawDoc] =
    sampleByKind(rawDocs, if (stride > 1) math.max(1, perKind / 10) else perKind)
}

/** Byte-real containers committed with [[Runner.run]] into a fresh table,
  * then run again over the same input for resume.
  */
final class CommitWorkload(spark: SparkSession, seed: Long, work: String, n: Long)
    extends Workload(spark, seed, work) {
  import spark.implicits._

  def docs: Long = n
  private var round = 0
  private var lastTable = ""
  private var spansPerPass: Option[Long] = None

  def stage(): Unit = {
    val s = seed
    spark.range(0, n, 1, cores).map(i => BinaryCorpus.doc(s, i))
      .write.mode("overwrite").parquet(inputPath)
  }

  private def freshTable(): String = {
    if (lastTable.nonEmpty)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lastTable))
    round += 1
    lastTable = s"$work/commit-$round"
    lastTable
  }

  def pass(tracer: Option[Tracer]): Pass = {
    val dir = freshTable()
    val (first, sec, c) = action(tracer)(Runner.run(rawDocs, s"$dir/docs", s"$dir/metrics"))
    val (again, resumeSec, rc) =
      action(tracer)(Runner.run(rawDocs, s"$dir/docs", s"$dir/metrics"))
    val errors = Seq(
      (first.failures != 0) -> s"${first.failures} failure rows",
      (first.docsProcessed != n) -> s"committed ${first.docsProcessed} of $n docs",
      spansPerPass.exists(_ != first.spansWritten) ->
        s"spans written ${first.spansWritten}, earlier pass ${spansPerPass.getOrElse(0L)}",
      (again.docsProcessed != 0) -> s"resume processed ${again.docsProcessed} docs",
      (again.skippedAlreadyDone != n) -> s"resume skipped ${again.skippedAlreadyDone} of $n"
    ).collect { case (true, msg) => msg }
    spansPerPass = Some(first.spansWritten)
    Pass(sec, first.docsProcessed, n - first.docsProcessed, errors, c,
      Some(resumeSec), rc.map(_.jobs))
  }

  override def facts: Map[String, Double] =
    spansPerPass.map(sp => Map("spans" -> sp.toDouble, "spans_per_doc" -> sp.toDouble / n))
      .getOrElse(Map.empty)

  /** Committed span total = single-threaded `extractOne` total. */
  override def finalChecks(): Seq[String] = {
    val committed = TableIO.read(spark, s"$lastTable/docs").get
      .agg(sum(size(col("spans")))).head().getLong(0)
    val rows = rawDocs.collect()
    val outs = rows.map(Pipeline.extractOne)
    val single = outs.map(_.spans.size.toLong).sum
    val failing = outs.count(_.failure.nonEmpty)
    Seq(
      (committed != single) -> s"committed spans $committed, single-threaded extractOne $single",
      (failing != 0) -> s"$failing docs fail single-threaded extractOne"
    ).collect { case (true, msg) => msg }
  }

  private def partitions: Int = cores * 2 // Runner.run's default

  def prefixes: Seq[(String, () => Unit)] = Seq(
    "scan" -> (() => noop(spark.read.parquet(inputPath))),
    "roundtrip" -> (() => noop(rawDocs.map(identity).toDF())),
    "extract" -> (() => noop(Pipeline.extract(rawDocs, repartitionTo = partitions).toDF())))

  def layers(p: Map[String, Double], full: Double): Map[String, Double] = Map(
    "io.scan_s" -> p("scan"),
    "model.rawdoc_roundtrip_s" -> (p("roundtrip") - p("scan")),
    "pipeline.extract_s" -> (p("extract") - p("roundtrip")),
    "pipeline.commit_s" -> (full - p("extract")))

  override def kernelRows(perKind: Int): Seq[RawDoc] = sampleByKind(rawDocs, perKind)
}

/** [[Dedup.minhashPairs]] → [[Dedup.connectedComponents]] over
  * [[DedupCorpus]], collecting every (doc_id, cluster_id) label.
  */
final class DedupWorkload(spark: SparkSession, seed: Long, work: String, n: Long)
    extends Workload(spark, seed, work) {
  import spark.implicits._

  def docs: Long = n
  private var lastLabels: Map[String, String] = Map.empty
  private var pairCount = 0L

  override def facts: Map[String, Double] = {
    val sizes = lastLabels.groupBy(_._2).values.map(_.size)
    Map("pairs" -> pairCount.toDouble, "clusters" -> sizes.size.toDouble,
      "multi_doc_clusters" -> sizes.count(_ > 1).toDouble,
      "planted_duplicate_rate" -> DedupCorpus.Layout(n).duplicateRate)
  }

  def stage(): Unit = {
    val (s, total) = (seed, n)
    spark.range(0, n, 1, cores)
      .map(i => (DedupCorpus.docId(s, i), DedupCorpus.text(s, total, i)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(inputPath)
  }

  private def input: DataFrame = spark.read.parquet(inputPath)

  def pass(tracer: Option[Tracer]): Pass = {
    val (rows, sec, c) = action(tracer) {
      val docs = input
      Dedup.connectedComponents(docs.select("doc_id"), Dedup.minhashPairs(docs)).collect()
    }
    lastLabels = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    val errors =
      if (rows.length == n && lastLabels.size == n) Nil
      else Seq(s"${rows.length} cluster rows (${lastLabels.size} distinct docs) for $n docs")
    Pass(sec, lastLabels.size.toLong, n - lastLabels.size, errors, c)
  }

  /** Labels = min-id union-find over the emitted pairs; planted exact
    * duplicates share a cluster.
    */
  override def finalChecks(): Seq[String] = {
    val pairs = Dedup.minhashPairs(input).select("id_a", "id_b").collect()
    pairCount = pairs.length
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    pairs.foreach { p =>
      val (a, b) = (find(p.getString(0)), find(p.getString(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val wrong = lastLabels.count { case (d, l) => find(d) != l }
    val split = DedupCorpus.exactGroups(seed, n)
      .count(g => g.map(lastLabels.getOrElse(_, "?")).distinct.size != 1)
    Seq(
      (wrong != 0) -> s"$wrong labels differ from union-find over ${pairs.length} pairs",
      (split != 0) -> s"$split planted exact-duplicate groups split"
    ).collect { case (true, msg) => msg }
  }

  def prefixes: Seq[(String, () => Unit)] = Seq(
    "pairs" -> (() => noop(Dedup.minhashPairs(input))))

  def layers(p: Map[String, Double], full: Double): Map[String, Double] = Map(
    "ops.minhash_pairs_s" -> p("pairs"),
    "ops.components_s" -> (full - p("pairs")))
}
