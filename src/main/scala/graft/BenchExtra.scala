package graft

import graft.model.RawDoc
import graft.pipeline.{Pipeline, SpanOps}
import org.apache.spark.sql.SparkSession

/** Extra benchmarks (guide §1.4 noop-sink isolation): phase-by-phase timing
  * of the headline extract+assemble job and isolated hot queries, with
  * `.explain("formatted")` dumps for the plan evidence in plans/r06/.
  *
  * NOT part of the frozen measurement harness ([[Bench]] is); this main
  * exists so optimization claims in OPTIMIZATION_r06.md are reproducible.
  */
object BenchExtra {

  private def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PHASE $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val mode = args.headOption.getOrElse("headline")
    val spark = Pipeline.session(s"local[$cpus]", cpus, s"graft-benchextra")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    mode match {
      case "headline" =>
        // the Bench headline corpus (already materialized by Bench runs)
        val path = s"${sys.props("java.io.tmpdir")}/graft_bench_corpus_v3_960000"
        def raw = spark.read.parquet(path).as[RawDoc]
        // warm-up: one full pass
        time("warmup full") {
          SpanOps.assembleSkewAware(SpanOps.explodeSpans(
            Pipeline.toDocsDF(Pipeline.extract(raw)))).count()
        }
        time("scan only (count)") { raw.toDF().count() }
        time("scan all cols (noop)") { noop(raw.toDF()) }
        time("scan+deser+reser (map identity)") { noop(raw.map(identity).toDF()) }
        time("scan+extract (noop)") { noop(Pipeline.extract(raw).toDF()) }
        time("extract+explode (noop)") {
          noop(SpanOps.explodeSpans(Pipeline.toDocsDF(Pipeline.extract(raw))))
        }
        time("full assemble (count)") {
          SpanOps.assembleSkewAware(SpanOps.explodeSpans(
            Pipeline.toDocsDF(Pipeline.extract(raw)))).count()
        }
        time("full assemble 2nd (count)") {
          SpanOps.assembleSkewAware(SpanOps.explodeSpans(
            Pipeline.toDocsDF(Pipeline.extract(raw)))).count()
        }
      case "explain" =>
        val path = s"${sys.props("java.io.tmpdir")}/graft_bench_corpus_v3_960000"
        val raw = spark.read.parquet(path).as[RawDoc]
        val full = SpanOps.assembleSkewAware(SpanOps.explodeSpans(
          Pipeline.toDocsDF(Pipeline.extract(raw))))
        println(full.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case "query" =>
        // isolate one declared query with the noop sink: BenchExtra query <name>
        // [k=v ...] — optional session-conf overrides for what-if experiments
        val name = args(1)
        args.drop(2).filter(_.contains("=")).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v)
        }
        val fn = SparkEntry.queries(name)
        spark.sparkContext.setJobDescription(name)
        time(s"$name warmup (count)") { fn(spark, sfDir).count() }
        time(s"$name noop") { noop(fn(spark, sfDir)) }
        time(s"$name count") { fn(spark, sfDir).count() }
      case "explainq" =>
        val name = args(1)
        val fn = SparkEntry.queries(name)
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
