package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only per-query profiler (not part of the library surface). For each
  * named query: two runs through [[Bench.timeRows]], one stderr line per
  * finished stage, then AQE's final plan of the second run. `graft.Plans`
  * prints the planned (not yet executed) plans.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Scratch q19_noise_flagship"
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield a - b).getOrElse(-1L)
        System.err.println(
          f"[stage ${i.stageId}%4d] wall ${wall / 1e3}%6.2f s run ${i.taskMetrics.executorRunTime / 1e3}%6.2f s tasks ${i.numTasks}%3d  ${i.name.takeWhile(_ != '\n').take(80)}")
      }
    })
    // The noop write's own QueryExecution, whose adaptive plan is final once
    // it has run (`df.queryExecution` would plan the query afresh). This
    // listener is registered before Bench.timeRows' first observation, so it
    // sees each write before that write's row count resolves.
    val lastRun = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastRun.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.sparkContext.setLogLevel("WARN")
    Tables.warm(spark, sfDir)
    val names = if (args.isEmpty) Seq("q19_noise_flagship", "q20_noise_bucketed") else args.toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { round =>
        val (sec, rows) = Bench.timeRows(fn(spark, sfDir))
        println(f"PROFILE $name round$round $sec%.2f s $rows rows")
      }
      println(s"== FINAL PLAN $name ==")
      println(lastRun.get.explainString(FormattedMode))
    }
    spark.stop()
  }
}
