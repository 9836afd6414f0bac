package graft

/** Dev-only: time each materialized CTE of one bridged oracle, then the
  * tail, to locate a runaway stage. Not part of the suite.
  * Usage: sbt "Test/runMain graft.SqlFdProbe q348_semantic_dedup_scaled"
  */
object SqlFdProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q348_semantic_dedup_scaled")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).createOrReplaceTempView(n)
      catch { case _: Throwable => () }
    }
    DuckSqlBridge.registerCompat(spark)
    val q = queries.Registry.all.find(_.name == name).get
    val translated = DuckSqlBridge.translate(q.oracle.get)
    DuckSqlBridge.splitWithCtes(translated) match {
      case None => println("no CTEs")
      case Some((ctes, tail)) =>
        ctes.foreach { case (cn, body) =>
          val t0 = System.nanoTime()
          val df = spark.sql(body)
            .repartition(spark.sessionState.conf.numShufflePartitions)
            .localCheckpoint()
          df.createOrReplaceTempView(cn)
          println(f"CTE $cn%-6s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=${df.count()}")
        }
        val t0 = System.nanoTime()
        val n = spark.sql(tail).collect().length
        println(f"TAIL        ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    spark.stop()
  }
}
