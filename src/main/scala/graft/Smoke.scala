package graft

/** Dev smoke runner: mirrors the driver's t1 check (SparkEntry.entry rows>0)
  * and prints a sample. Usage: sbt "runMain graft.Smoke".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
