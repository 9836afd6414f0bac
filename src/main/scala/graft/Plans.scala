package graft

/** Dev tool: dump formatted physical plans for selected queries (all when no
  * names given). Usage: sbt "runMain graft.Plans [sfDir] [name ...]".
  * Inspect for: PushedFilters reaching the parquet scan, pruned ReadSchema,
  * broadcast joins where intended, and wide WholeStageCodegen spans.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    // a fixed local[4], so captured plans do not depend on the machine
    val spark = Session.builder(cpus = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n===================== $name =====================")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case scala.util.control.NonFatal(e) => println(s"failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
