package graft

/** Dev-only profiling harness (not part of the library surface). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    // SPARK_GRAFT_STAGES=1 prints per-stage wall/cpu time as stages finish.
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val wall = (for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b).getOrElse(-1L)
            System.err.println(
              f"[stage ${i.stageId}%4d] wall ${wall / 1e3}%6.2f s run ${i.taskMetrics.executorRunTime / 1e3}%6.2f s tasks ${i.numTasks}%3d  ${i.name.takeWhile(_ != '\n').take(80)}")
          }
        })
    }
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).limit(1).count() catch { case scala.util.control.NonFatal(_) => () }
    }
    val names = args.toSeq match {
      case Nil => Seq("q19_noise_flagship", "q20_noise_bucketed")
      case xs => xs
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // SPARK_GRAFT_EXPLAIN=1 prints the formatted physical plan instead of
      // profiling (for plan-shape review of a new query).
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
        println(s"== PLAN $name ==")
        println(fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      } else if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("2")) {
        // execute first, then print: AQE's FINAL plan with materialized
        // query stages (ReusedExchange/ReusedQueryStage visible)
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"== FINAL PLAN $name ==")
        println(df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      } else (1 to 2).foreach { round =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"PROFILE $name round$round ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
