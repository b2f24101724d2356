package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Counters of one traced action, read from Spark's own task metrics. */
final case class Counters(
    jobs: Long,
    stages: Long,
    tasks: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    shuffleRecords: Long,
    spillBytes: Long,
    runTimeMs: Long,
    gcTimeMs: Long,
    /** max ÷ median task run time of the stage that read the most shuffle
      * bytes (the assemble reduce stage on the span workloads); 1 when the
      * action read no shuffle.
      */
    skewMaxOverMedian: Double)

/** Benchmark-side [[SparkListener]]: attached only around traced actions
  * (through the public `addSparkListener`/`removeSparkListener`), so untraced
  * passes run without it. Every callback runs on the listener-bus thread;
  * [[measure]] drains the bus before reading.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var shuffleWrite, shuffleRead, shuffleRecords, spill, runTime, gcTime = 0L
  private val stageRunTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageShuffleRead = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      runTime += m.executorRunTime
      gcTime += m.jvmGCTime
      stageRunTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      stageShuffleRead(e.stageId) =
        stageShuffleRead.getOrElse(e.stageId, 0L) + m.shuffleReadMetrics.totalBytesRead
    }
  }

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    shuffleWrite = 0; shuffleRead = 0; shuffleRecords = 0; spill = 0
    runTime = 0; gcTime = 0
    stageRunTimes.clear(); stageShuffleRead.clear()
  }

  private def snapshot(): Counters = synchronized {
    val skew = stageShuffleRead.filter(_._2 > 0).maxByOption(_._2) match {
      case Some((stage, _)) =>
        val times = stageRunTimes(stage).sorted
        val n = times.size
        val median = if (n % 2 == 1) times(n / 2).toDouble
          else (times(n / 2 - 1) + times(n / 2)) / 2.0
        times.last / math.max(median, 1.0)
      case None => 1.0
    }
    Counters(jobs, stages, tasks, shuffleWrite, shuffleRead, shuffleRecords, spill,
      runTime, gcTime, skew)
  }

  /** Runs `body` with this listener attached; returns the body's result, its
    * wall seconds (listener attached, bus not yet drained) and its counters.
    */
  def measure[T](body: => T): (T, Double, Counters) = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    reset()
    sc.addSparkListener(this)
    try {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      PerfbenchBus.drain(sc)
      (r, sec, snapshot())
    } finally sc.removeSparkListener(this)
  }
}
