package graft

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

    val broadcast = Bench.timeRows(noise.Noise.groundNoise(grid, sources))
    val bucketed = Bench.timeRows(noise.Noise.groundNoiseBucketed(grid, sources))
    // same naive query, bucketed automatically by the optimizer rule
    GraftExtensions.installInto(spark)
    val ruleRewritten = Bench.timeRows(noise.Noise.groundNoise(grid, sources))
    val qs = Seq("broadcast" -> broadcast, "bucketed" -> bucketed, "rule_rewritten" -> ruleRewritten)
      .map { case (k, (v, n)) => s""""$k":{"sec":$v,"rows":$n}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"refscale_noise","grid_cells":1002001,"sources":$nSources,"variants":$qs,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
