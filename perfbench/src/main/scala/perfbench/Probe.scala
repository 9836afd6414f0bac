package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchInternals, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Cumulative layer counters; an operation's numbers are the difference of
  * two snapshots taken around it.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    compiles: Long = 0, compileNs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, compiles - o.compiles, compileNs - o.compileNs)
}

/** Scheduler and executor listener plus Spark's codegen counters. It is
  * registered only in traced runs; untraced runs carry no listener.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val clock0Ms = System.currentTimeMillis()
  private val clock0Ns = System.nanoTime()
  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)] // nanoTime-based

  spark.sparkContext.addSparkListener(this)

  /** Listener event times are epoch milliseconds; spans use nanoTime. */
  def toNanos(epochMs: Long): Long = clock0Ns + (epochMs - clock0Ms) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((toNanos(s), toNanos(e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1, runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Counters after every queued listener event has been delivered. */
  def snapshot(): Counters = {
    PerfbenchInternals.drainListenerBus(spark.sparkContext)
    synchronized(c.copy(compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      compileNs = CodeGenerator.compileTime))
  }

  /** Job intervals (nanoTime) that ended since the last call. */
  def takeJobSpans(): Seq[(Long, Long)] = {
    PerfbenchInternals.drainListenerBus(spark.sparkContext)
    synchronized { val out = jobSpans.toSeq; jobSpans.clear(); out }
  }

  def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
