package graft

import graft.io.SyntheticDocs
import graft.pipeline.{Pipeline, Runner}

/** CLI for the full resumable pipeline over the deterministic corpus:
  * `runMain graft.RunPipeline <nDocs> <outTableDir> <metricsTableDir> [cpus]`
  * (`cpus` defaults to the JVM's available processors).
  * Used by the kill/rerun harness (tools/kill_rerun_test.sh) to evidence the
  * north rule's "job killed mid-run completes idempotently on rerun" with a
  * real SIGKILL instead of a simulated crash point.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val nDocs = args(0).toLong
    val outDir = args(1)
    val metricsDir = args(2)
    val cpus = if (args.length > 3) args(3).toInt else Runtime.getRuntime.availableProcessors
    // the kill harness needs the forked JVM's pid (its argv hides behind a
    // java @argfile, so /proc scans can't find it)
    sys.env.get("GRAFT_PID_FILE").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        ProcessHandle.current().pid().toString)
    }
    val spark = Pipeline.session(s"local[$cpus]", cpus, "graft-run")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val input = spark.range(nDocs).map(i => SyntheticDocs.generate(42L, i).raw)
    val r = Runner.run(input, outDir, metricsDir)
    println(s"RUN_RESULT snapshot=${r.snapshotId} processed=${r.docsProcessed} " +
      s"spans=${r.spansWritten} failures=${r.failures} skipped=${r.skippedAlreadyDone}")
    spark.stop()
  }
}
