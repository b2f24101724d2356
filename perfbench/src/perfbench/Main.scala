package perfbench

import graft.io.SyntheticDocs
import graft.model.RawDoc
import graft.pipeline.Pipeline
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark JVM: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <cores> <workDir>`. Stages the workload's seeded input, warms up, then
  * either times `seconds / nominal pass seconds` full passes (at least 2;
  * trace 0) or runs the traced layer breakdown (trace 1), checks every
  * output, and prints one line `PERFBENCH {json}` with the metrics, the
  * check failures and run facts. `perfbench/run.py` builds the classpath and
  * wraps this in the benchmark's command-line contract.
  */
object Main {
  /** Docs per pass and the nominal seconds of one pass (with its resume on
    * binary_commit) at local[4]. Sizes keep a pass at 1.5-3 s; dedup's
    * ~4 s is nearly all per-job overhead, which does not shrink with n.
    */
  final case class Spec(docs: Long, passSeconds: Double)

  val Specs: Seq[(String, Spec)] = Seq(
    "mixed_assemble" -> Spec(24000, 1.7),
    "long_docs" -> Spec(1200, 2.6),
    "binary_commit" -> Spec(2000, 2.8),
    "dedup_clusters" -> Spec(2000, 4.0))

  def workload(name: String, spark: org.apache.spark.sql.SparkSession, seed: Long,
      work: String, n: Long): Workload = name match {
    case "mixed_assemble" => new SpanWorkload(spark, seed, work, n, stride = 1)
    case "long_docs" => new SpanWorkload(spark, seed, work, n, stride = 1000)
    case "binary_commit" => new CommitWorkload(spark, seed, work, n)
    case "dedup_clusters" => new DedupWorkload(spark, seed, work, n)
  }

  val SetupReps = 3
  val WarmPasses = 2
  val MinPasses = 2
  val TraceRounds = 2
  val KernelRowsPerKind = 100

  val KernelKinds: Seq[String] = SyntheticDocs.PayloadKinds ++ BinaryCorpus.Kinds

  /** Every per-layer metric, in the order printed; a layer the workload
    * does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "io.scan_s" -> "s", "model.rawdoc_roundtrip_s" -> "s", "pipeline.extract_s" -> "s",
    "pipeline.explode_s" -> "s", "pipeline.assemble_s" -> "s", "pipeline.sink_s" -> "s",
    "pipeline.commit_s" -> "s", "pipeline.resume_s" -> "s", "pipeline.resume_jobs" -> "count",
    "ops.minhash_pairs_s" -> "s", "ops.components_s" -> "s", "extract.ok_frac" -> "ratio") ++
    KernelKinds.map(k => s"extract.kernel_us.$k" -> "us") ++ Seq(
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count", "spill.bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "executor.busy_frac" -> "ratio", "executor.gc_frac" -> "ratio",
    "task.skew_max_over_median" -> "ratio",
    "trace.full_pass_s" -> "s", "trace.overhead_frac" -> "ratio")

  def main(args: Array[String]): Unit =
    if (args.head != "--train") measure(args)
    else System.exit(try { train(args(1)); 0 } catch { case e: Throwable => e.printStackTrace(); 1 })

  /** Class-loading training run for the build's class-data-sharing archive:
    * mixed_assemble and binary_commit at 1/20 size through every code path
    * a run takes. long_docs runs the same classes as mixed_assemble; dedup
    * loads few classes of its own and its cold pass is the slowest.
    */
  private def train(work: String): Unit = {
    val spark = Pipeline.session("local[2]", 2, "perfbench-train")
    spark.sparkContext.setLogLevel("ERROR")
    val trained = Set("mixed_assemble", "binary_commit")
    try Specs.filter(s => trained(s._1)).foreach { case (name, spec) =>
      val wl = workload(name, spark, 1L, s"$work/$name", spec.docs / 20)
      wl.stage()
      val errors = wl.pass(None).errors ++ wl.pass(Some(new Tracer(spark))).errors ++
        wl.finalChecks()
      require(errors.isEmpty, s"$name: ${errors.mkString("; ")}")
      wl.prefixes.foreach(_._2())
      Kernels.usPerDoc(wl.kernelRows(2))
    } finally spark.stop()
  }

  private def measure(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, coresArg, work) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = coresArg.toInt
    val spec = Specs.toMap.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val spark = Pipeline.session(s"local[$cores]", cores, s"perfbench-$name")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val report = new Report
    val status =
      try {
        val wl = workload(name, spark, seedArg.toLong, work, spec.docs)
        // a fixed pass count per workload, so the median always covers the
        // same passes of the warm-up curve whatever the host's speed
        val passes = math.max(MinPasses, math.round(secondsArg.toDouble / spec.passSeconds).toInt)
        run(wl, report, sessionS, passes, traceArg == "1", cores)
        report.info("spark_version") = Json.str(spark.version)
        report.info("java_version") = Json.str(System.getProperty("java.version"))
        report.info("max_heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
        report.info("local_cores") = cores.toString
        println("PERFBENCH " + report.json)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    System.exit(status)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  private def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))

  def run(wl: Workload, report: Report, sessionS: Double, timedPasses: Int, trace: Boolean,
      cores: Int): Unit = {
    // set-up: session (once), staging (median of SetupReps), warm-up passes
    val stageS = (1 to SetupReps).map(_ => timed(wl.stage())._2)
    val (warm, warmS) = timed((1 to WarmPasses).map(_ => wl.pass(None)))
    warm.foreach(p => report.errors ++= p.errors)
    report.info("session_s") = sessionS.toString
    report.info("stage_s") = Json.arr(stageS)
    report.info("warmup_s") = warmS.toString
    report.info("docs_per_pass") = wl.docs.toString
    val setupS = sessionS + median(stageS) + warmS

    val passes =
      if (trace) traced(wl, report, cores)
      else {
        val out = (1 to timedPasses).map(_ => wl.pass(None))
        val passS = out.map(_.seconds)
        report.metric("docs_per_sec", wl.docs / median(passS), "docs/s")
        report.metric("setup_s", setupS, "s")
        report.metric("peak_rss_mb", peakRssMb(), "MB")
        out.flatMap(_.resumeSeconds) match {
          case Seq() =>
          case rs => report.metric("resume_s", median(rs), "s")
        }
        report.info("pass_s") = Json.arr(passS)
        out
      }
    passes.foreach(p => report.errors ++= p.errors)
    report.attempted = passes.map(p => p.ok + p.failed).sum
    report.failed = passes.map(_.failed).sum
    if (!trace)
      report.metric("failed_frac", report.failed.toDouble / report.attempted, "ratio")
    report.info("passes") = passes.size.toString
    report.errors ++= wl.finalChecks()
    wl.facts.foreach { case (k, v) => report.info(k) = Json.num(v) }
  }

  /** Traced layer breakdown: TraceRounds rounds of (every noop prefix, one
    * untraced full pass, one traced full pass), then per-kind kernels.
    */
  private def traced(wl: Workload, report: Report, cores: Int): Seq[Pass] = {
    val tracer = new Tracer(wl.spark)
    val prefixS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val untraced, withTrace = mutable.ArrayBuffer.empty[Pass]
    (1 to TraceRounds).foreach { _ =>
      wl.prefixes.foreach { case (name, f) =>
        prefixS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += timed(f())._2
      }
      untraced += wl.pass(None)
      withTrace += wl.pass(Some(tracer))
    }
    val full = median(untraced.map(_.seconds).toSeq)
    val values = mutable.LinkedHashMap[String, Double](PerLayer.map(_._1 -> 0.0): _*)
    values ++= wl.layers(prefixS.map { case (k, v) => k -> median(v.toSeq) }.toMap, full)
    Kernels.usPerDoc(wl.kernelRows(KernelRowsPerKind)).foreach { case (kind, us) =>
      values(s"extract.kernel_us.$kind") = us
    }

    val all = (untraced ++ withTrace).toSeq
    val cs = withTrace.flatMap(_.counters).toSeq
    def med(f: Counters => Double): Double = median(cs.map(f))
    values ++= Seq(
      "extract.ok_frac" -> all.map(_.ok).sum.toDouble / all.map(p => p.ok + p.failed).sum,
      "shuffle.write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "shuffle.read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "shuffle.records" -> med(_.shuffleRecords.toDouble),
      "spill.bytes" -> med(_.spillBytes.toDouble),
      "spark.jobs" -> med(_.jobs.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble),
      "executor.busy_frac" -> median(withTrace.toSeq.map(p =>
        p.counters.get.runTimeMs / 1e3 / (p.seconds * cores))),
      "executor.gc_frac" -> med(c => c.gcTimeMs.toDouble / math.max(c.runTimeMs, 1L)),
      "task.skew_max_over_median" -> med(_.skewMaxOverMedian),
      "trace.full_pass_s" -> median(withTrace.map(_.seconds).toSeq),
      "trace.overhead_frac" -> (median(withTrace.map(_.seconds).toSeq) / full - 1))
    all.flatMap(_.resumeSeconds) match {
      case Seq() =>
      case rs => values("pipeline.resume_s") = median(rs)
    }
    withTrace.flatMap(_.resumeJobs).toSeq match {
      case Seq() =>
      case js => values("pipeline.resume_jobs") = median(js.map(_.toDouble))
    }
    val units = PerLayer.toMap
    values.foreach { case (k, v) => report.metric(k, v, units(k)) }
    report.info("untraced_full_pass_s") = Json.arr(untraced.map(_.seconds).toSeq)
    all
  }
}

/** Single-threaded `Pipeline.extractOne` µs/doc per payload kind: one
  * warm-up sweep, then sweeps until 0.25 s and 3 sweeps, median sweep.
  */
object Kernels {
  def usPerDoc(rows: Seq[RawDoc]): Map[String, Double] =
    rows.groupBy(_.payload_kind).map { case (kind, rs) =>
      var sink = 0L
      def sweep(): Double = {
        val t0 = System.nanoTime()
        rs.foreach(r => sink += Pipeline.extractOne(r).spans.size)
        (System.nanoTime() - t0) / 1e3 / rs.size
      }
      sweep()
      val sweeps = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (sweeps.size < 3 || System.nanoTime() - t0 < 250000000L) sweeps += sweep()
      require(sink > 0, s"no spans from $kind")
      kind -> sweeps.sorted.apply(sweeps.size / 2)
    }
}

final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"errors":${errors.map(Json.str).mkString("[", ",", "]")},"info":$inf}"""
  }
}

object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def arr(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
}
