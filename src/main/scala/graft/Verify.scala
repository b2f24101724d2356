package graft
import graft.io.SyntheticDocs
import graft.pipeline.Pipeline
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (local iteration
    // only; the driver always passes two args and gets the full surface)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // the production session config, so the gate runs the tuned join plans
    val spark = Pipeline.session(s"local[$cpus]", cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Materialize the generator-truth side tables and point the oracle SQL
    // at them BEFORE the dump below: the span-pipeline oracles read these
    // parquet paths directly in DuckDB (ExpectedTables scaladoc). The dir is
    // keyed by application id so concurrent Verify runs never race.
    graft.io.ExpectedTables.sweepStale()
    val expectedDir =
      s"${sys.props("java.io.tmpdir")}/graft_expected_${spark.sparkContext.applicationId}"
    val nDocs = SyntheticDocs.corpusSize(spark.read.parquet(s"$sfDir/documents.parquet").count())
    graft.io.ExpectedTables.materialize(spark, nDocs, expectedDir)
    sys.props("graft.expected.dir") = expectedDir
    def selected(name: String) = only.isEmpty || only(name)
    SparkEntry.queries.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // a query that throws before its write must leave NO output: a stale
      // dir from an earlier run would otherwise pass the compare
      graft.io.TableIO.deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run dumps only its own oracles, so the compare counts
    // exactly the queries that ran
    val json = SparkEntry.oracleSql.filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
