package graft

import org.apache.spark.sql.functions.{count, lit}

/** Benchmark at the REFERENCE's own demo scale (reference
  * scripts/functions.py:281: genCoords(Nantes, 200, 500) → 1,002,001 grid
  * cells, dense |grid|x|sources| haversine matrix in driver NumPy).
  *
  * Runs the distributed flagship at that exact scale — broadcast plan and
  * geo-cell-bucketed plan — and prints one JSON line. Both plans reject
  * grid×source pairs beyond the 20 km cutoff before any haversine is
  * computed, which the reference's dense matrix cannot do (BASELINE.md: ~97%
  * of its grid is out of reach of any source): the broadcast plan still
  * visits every pair but rejects a far one with each source's reach window
  * (a few comparisons), and the bucketed plan pairs only neighbouring geo
  * cells, then applies the same window.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.RefScaleBench"
  */
object RefScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val grid = noise.Noise.grid(spark, noise.Noise.NantesLat, noise.Noise.NantesLon, 200.0, 500)
    val sources = queries.NoiseQueries.sources(spark, sfDir).cache()
    val nSources = sources.count()

    // Writes the kernel's whole output to the noop sink: a `count()` would let
    // column pruning drop the attenuation and the power sum from the plan.
    // The row count is observed on that same job.
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): (String, Double, Long) = {
      val obs = new org.apache.spark.sql.Observation(label)
      val t0 = System.nanoTime()
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (label, sec, obs.get("rows").asInstanceOf[Long])
    }

    val broadcastRun = time("broadcast")(noise.Noise.groundNoise(grid, sources))
    val bucketedRun = time("bucketed")(noise.Noise.groundNoiseBucketed(grid, sources))
    // same naive query, bucketed automatically by the optimizer rule
    GraftExtensions.installInto(spark)
    val ruleRun = time("rule_rewritten")(noise.Noise.groundNoise(grid, sources))
    val results = Seq(broadcastRun, bucketedRun, ruleRun)
    val qs = results.map { case (k, v, n) => s""""$k":{"sec":$v,"rows":$n}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"refscale_noise","grid_cells":1002001,"sources":$nSources,"variants":$qs,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
