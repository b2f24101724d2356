package graft

import graft.io.SyntheticDocs
import graft.model.RawDoc
import graft.pipeline.{Pipeline, SpanOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Benchmark main. With no arguments it prints ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"failed":[...],
  *  "sf":...,"docs":...,"extract_sec":...,"docs_per_sec":...,
  *  "docs_per_sec_best_across_sessions":...,"spread":{...},"scaling":{...}}
  *
  * Every timed body ends in [[sink]], which reads every output column, and
  * runs once to warm up, then [[Repeats]] times. A key is the median of
  * those runs; `spread` holds its q1 and q3.
  *
  * Headline metric: end-to-end docs/sec for extract + span-assemble
  * ([[headline]]) reading the synthetic interleaved corpus from parquet
  * (the Iceberg-shaped input path; generation is test scaffolding and is
  * excluded from the timed window by materializing the corpus once).
  *
  * Scaling evidence (north rule: ≥0.8 efficiency N → 4N executors): the
  * headline job at the core pair that [[scalingPair]] derives from the
  * host's cores, run interleaved N, 4N, N, 4N; each level's docs/sec comes
  * from the median of its runs. Set SPARK_GRAFT_SCALING=0 to skip it.
  *
  * `Bench query <name>` times one `SparkEntry` query the same way and
  * prints its runs; `Bench explain <name>...` prints each query's
  * formatted plan.
  */
object Bench {

  /** Timed runs per body, after one warm-up run. */
  private val Repeats = 5

  /** Interleaved scaling sessions start/stop repeatedly; the RPC loops of
    * a STOPPING context log benign teardown races at ERROR (observed:
    * MessageLoop.receiveLoop stacks in the round-3 artifact tail), and sbt
    * prefixes every stderr line "[error]". Silence exactly those
    * subsystems — BEFORE the first session exists, since NativeCodeLoader
    * fires during construction — so the committed bench artifact carries
    * no noise; real failures still surface through the exit status and the
    * JSON line.
    */
  private lazy val quietLoggers: Unit =
    Seq("org.apache.spark.rpc", "org.apache.spark.network",
      "org.apache.spark.executor", "org.apache.spark.scheduler.DAGScheduler",
      "org.apache.hadoop.util.NativeCodeLoader",
      // the streaming queries' benign setup WARNs (AQE-unsupported notice,
      // temp checkpoint location) — expected per-run, not signal
      "org.apache.spark.sql.execution.streaming.runtime",
      // state-store MAINTENANCE threads are JVM-global daemons that outlive
      // their session: once the scaling phase stops/starts contexts they
      // WARN (with awaitResult stacks) that they cannot unload providers
      // against the dead coordinator — lifecycle noise, not signal
      "org.apache.spark.sql.execution.streaming.state").foreach { name =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        name, org.apache.logging.log4j.Level.FATAL)
    }

  private def mkSession(cpus: Int): SparkSession = {
    quietLoggers
    val s = Pipeline.session(s"local[$cpus]", cpus, s"graft-bench-$cpus")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Materialize the synthetic corpus once; reused across runs and rounds.
    * The version suffix invalidates the cache whenever the generator's
    * output changes (v2: md_docling dialect; v3: RawDoc.source_path column).
    */
  private def corpusPath(spark: SparkSession, nDocs: Long): String = {
    val tmp = sys.props("java.io.tmpdir")
    val prefix = "graft_bench_corpus_"
    val version = "v3_" // v3: RawDoc gained the source_path provenance column
    val path = s"$tmp/$prefix$version$nDocs"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      // superseded corpus versions are multi-hundred-MB parquet trees: sweep
      // stale graft_bench_corpus_* dirs, but ONLY when (re)building — and
      // never dirs touched in the last 6h — so a concurrent bench of another
      // build can't lose its corpus mid-read
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(prefix) &&
          !f.getName.startsWith(prefix + version) && f.lastModified() < cutoff)
        .foreach(graft.io.TableIO.deleteRecursively)
      import spark.implicits._
      spark.range(nDocs).map(i => SyntheticDocs.generate(SyntheticDocs.CorpusSeed, i).raw)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Runs `df` to the end, reading every output column (a `count()` lets
    * Catalyst prune every expression the count does not need).
    */
  private[graft] def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The headline job: extract + explode + skew-aware assemble. */
  private[graft] def headline(raw: Dataset[RawDoc]): DataFrame =
    SpanOps.assembleSkewAware(SpanOps.explodeSpans(Pipeline.toDocsDF(Pipeline.extract(raw))))

  /** The N → 4N core pair for a host with `cores` cores: N = cores / 4;
    * none below 4 cores.
    */
  def scalingPair(cores: Int): Option[(Int, Int)] =
    if (cores < 4) None else Some((cores / 4, cores / 4 * 4))

  /** Seconds of each of [[Repeats]] runs of `body`, after one warm-up run. */
  private def time(body: => Unit): Seq[Double] = {
    body
    Seq.fill(Repeats) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** The `p`-quantile of `xs`, interpolated between the closest ranks. */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val i = p * (s.size - 1)
    val lo = i.toInt
    s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (i - lo)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def span(xs: Seq[Double]): String = f"[${quantile(xs, 0.25)}%.3f,${quantile(xs, 0.75)}%.3f]"

  /** Seconds per headline run over the corpus at `path`. */
  private def headlineRuns(spark: SparkSession, path: String): Seq[Double] = {
    import spark.implicits._
    time(sink(headline(spark.read.parquet(path).as[RawDoc])))
  }

  def main(args: Array[String]): Unit = {
    graft.io.ExpectedTables.sweepStale() // stale per-application tmp dirs
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = mkSession(cpus)
    args.toList match {
      case List("query", name) =>
        val runs = time(sink(SparkEntry.queries(name)(spark, sfDir)))
        spark.stop()
        println(f"""{"query":"$name","sf":"$sfDir","cpus":$cpus,"runs":${runs.map(r => f"$r%.3f").mkString("[", ",", "]")},"median":${median(runs)}%.3f,"q1":${quantile(runs, 0.25)}%.3f,"q3":${quantile(runs, 0.75)}%.3f}""")
      case "explain" :: names =>
        names.foreach { name =>
          println(s"\n======================= $name =======================")
          println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
        }
        spark.stop()
      case Nil => suite(spark, sfDir, cpus)
      case other =>
        spark.stop()
        sys.error(s"usage: Bench [query <name> | explain <name>...], got: ${other.mkString(" ")}")
    }
  }

  /** The headline, every `SparkEntry` query and the scaling pair; prints
    * the JSON line and stops `spark`.
    */
  private def suite(spark: SparkSession, sfDir: String, cpus: Int): Unit = {
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "0"
    val nDocs = SyntheticDocs.corpusSize(spark.read.parquet(s"$sfDir/documents.parquet").count())
    // the headline uses a fixed 960k-doc corpus so docs/sec measures work,
    // not per-job overhead (at sf0.1 the sf-sized corpus is only 20k docs)
    val scaleDocs = math.max(nDocs, 960000L)
    val scalePath = corpusPath(spark, scaleDocs)

    val hsecs = headlineRuns(spark, scalePath)
    val hsec = median(hsecs)
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Some(time(sink(fn(spark, sfDir)))) catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      })
    }
    spark.stop()
    val results = runs.collect { case (name, Some(secs)) => name -> secs }
    val failed = runs.collect { case (name, None) => s""""$name"""" }

    val scalingJson = scalingPair(cpus).filter(_ => doScaling).fold("null") { case (n, n4) =>
      // interleaved to decorrelate from host drift
      val samples = Seq(n, n4, n, n4).map { c =>
        val s = mkSession(c)
        try c -> headlineRuns(s, scalePath) finally s.stop()
      }
      def dps(c: Int) = scaleDocs / median(samples.collect { case (`c`, secs) => secs }.flatten)
      val (dn, d4n) = (dps(n), dps(n4))
      val eff = d4n / (4.0 * dn)
      f"""{"docs":$scaleDocs,"pairs":[{"n_cpus":$n,"n4_cpus":$n4,"docs_per_sec_n":$dn%.1f,"docs_per_sec_4n":$d4n%.1f,"efficiency":$eff%.3f}],"efficiency":$eff%.3f}"""
    }

    val qs = results.map { case (k, v) => f""""$k":${median(v)}%.3f""" }.mkString("{", ",", "}")
    val qspread = results.map { case (k, v) => s""""$k":${span(v)}""" }.mkString("{", ",", "}")
    val total = results.map(r => median(r._2)).sum + hsec
    val hdps = scaleDocs / hsec
    val dpsSpread = f"[${scaleDocs / quantile(hsecs, 0.75)}%.1f,${scaleDocs / quantile(hsecs, 0.25)}%.1f]"
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","docs":$scaleDocs,"extract_sec":$hsec%.3f,"docs_per_sec":$hdps%.1f,"docs_per_sec_best_across_sessions":${scaleDocs / hsecs.min}%.1f,"spread":{"extract_sec":${span(hsecs)},"docs_per_sec":$dpsSpread,"queries":$qspread},"scaling":$scalingJson}""")
  }
}
