package graft

import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.noise.Noise

/** Unit + property tests for the noise pipeline (SURVEY.md §5.2 items 4-5):
  * grid counts vs the closed form (2n+1)^2, haversine against a known city
  * pair, the classification truth table with boundary values, attenuation on
  * a hand-computed example, and haversine metric properties (seeded random
  * sampling — the scalatest/scalacheck bridge artifact isn't available in
  * the offline dependency cache).
  */
class NoiseSpec extends SparkTestBase {

  private def haversineOf(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val df = spark.range(1).select(
      haversineMeters(lit(lat1), lit(lon1), lit(lat2), lit(lon2)).as("d"))
    df.head().getDouble(0)
  }

  test("grid has (2n+1)^2 cells and spans the expected bbox") {
    val n = 20
    val g = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 200.0, n)
    assert(g.count() == (2 * n + 1).toLong * (2 * n + 1))
    val r = g.agg(min("g_lat"), max("g_lat"), min("g_lon"), max("g_lon")).head()
    val b = Noise.bbox(Noise.NantesLat, Noise.NantesLon, 200.0, n)
    assert(math.abs(r.getDouble(0) - b.laMin) < 1e-5)
    assert(math.abs(r.getDouble(1) - b.laMax) < 1e-5)
    assert(math.abs(r.getDouble(2) - b.loMin) < 1e-5)
    assert(math.abs(r.getDouble(3) - b.loMax) < 1e-5)
  }

  test("haversine matches the known Paris-London distance") {
    // Paris (48.8566, 2.3522) to London (51.5074, -0.1278): ~343.5 km
    val d = haversineOf(48.8566, 2.3522, 51.5074, -0.1278)
    assert(math.abs(d - 343.5e3) < 1.5e3, s"got $d")
  }

  test("classification truth table incl. +-1.5 m/s boundaries") {
    import spark.implicits._
    val rows = Seq(
      // (lat, lon, on_ground, vertical_rate, geo_alt) -> expected (db, alt)
      (1.0, 1.0, true, Some(5.0), Some(300.0), 80.0, 27.0),   // ground wins
      (1.0, 1.0, false, Some(-2.0), Some(300.0), 110.0, 300.0), // descending
      (1.0, 1.0, false, Some(2.0), Some(300.0), 130.0, 300.0),  // climbing
      (1.0, 1.0, false, Some(-1.5), Some(300.0), 90.0, 300.0),  // boundary = cruise
      (1.0, 1.0, false, Some(1.5), Some(300.0), 90.0, 300.0),   // boundary = cruise
      (1.0, 1.0, false, None, Some(300.0), 90.0, 300.0),        // null vr = cruise
      (1.0, 1.0, false, Some(0.0), None, 90.0, 27.0))           // null alt = ref alt
    val df = rows.map(r => (r._1, r._2, r._3, r._4, r._5))
      .toDF("latitude", "longitude", "on_ground", "vertical_rate", "geo_altitude")
    val out = Noise.classifySource(df).collect()
    rows.zip(out).foreach { case (exp, got) =>
      assert(got.getDouble(2) == exp._6, s"db for $exp")
      assert(got.getDouble(3) == exp._7, s"alt for $exp")
    }
  }

  test("rows with null position or on_ground are dropped") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some(1.0), Some(false), Some(0.0), Some(10.0)),
      (None, Some(1.0), Some(false), Some(0.0), Some(10.0)),
      (Some(1.0), None, Some(false), Some(0.0), Some(10.0)),
      (Some(1.0), Some(1.0), None, Some(0.0), Some(10.0)))
      .toDF("latitude", "longitude", "on_ground", "vertical_rate", "geo_altitude")
    assert(Noise.classifySource(df).count() == 1)
  }

  test("ground noise on a hand-computed 2-source example") {
    import spark.implicits._
    // one grid cell at origin; two sources at exactly 1 km and 10 km due north
    val grid = Seq((0.0, 0.0)).toDF("g_lat", "g_lon")
    val dLat1km = 1000.0 / EarthRadiusM * (180.0 / math.Pi)
    val sources = Seq(
      (dLat1km, 0.0, 100.0, 27.0),
      (10 * dLat1km, 0.0, 100.0, 27.0)).toDF("s_lat", "s_lon", "s_db", "s_alt")
    val db = Noise.groundNoise(grid, sources).head().getDouble(2)
    // contributions: 100 - 20*log10(1000) = 40 dB; 100 - 20*log10(10000) = 20 dB
    val expected = 10 * math.log10(math.pow(10, 4.0) + math.pow(10, 2.0))
    assert(math.abs(db - expected) < 0.02, s"got $db want ~$expected")
  }

  test("bucketed ground noise equals broadcast ground noise") {
    val g = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10)
    val s = graft.queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001")
    val a = Noise.groundNoise(g, s).orderBy("g_lat", "g_lon").collect()
    val b = Noise.groundNoiseBucketed(g, s).orderBy("g_lat", "g_lon").collect()
    assert(a.sameElements(b))
  }

  /** Task count of the result stage of the last job that collecting `df`
    * runs, with every (stage, tasks) of that job for the failure message.
    */
  private def resultStageTasks(df: org.apache.spark.sql.DataFrame): (Int, Seq[(Int, Int)]) = {
    val last = jobsOf(assert(df.collect().nonEmpty)).maxBy(_.jobId)
    (last.stageInfos.maxBy(_.stageId).numTasks, last.stageInfos.map(i => i.stageId -> i.numTasks))
  }

  // a few KB of shuffle, far below the advisory partition size: AQE would
  // coalesce a hash exchange of it to one partition
  private def tinyGrid = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10)

  private def twoSources = {
    import spark.implicits._
    Seq((Noise.NantesLat, Noise.NantesLon, 130.0, 300.0),
      (Noise.NantesLat + 0.05, Noise.NantesLon - 0.05, 90.0, 3000.0))
      .toDF("s_lat", "s_lon", "s_db", "s_alt")
  }

  /** A stream micro-batch's source shape: one payload parsed into state
    * vectors, a plan the planner cannot size, in one partition.
    */
  private def parsedSources = {
    import spark.implicits._
    val payload =
      s"""{"time": 1757059200, "states": [
         | ["39c4a1", "AFR123  ", "France", 1757059190, 1757059195, ${Noise.NantesLon}, ${Noise.NantesLat},
         |  310.5, false, 82.3, 184.2, 4.2, null, 335.2, "1000", false, 0],
         | ["4ca7b3", "RYR45Q  ", "Ireland", 1757059188, 1757059195, -1.65, 47.2,
         |  null, true, 4.1, 90.0, 0.0, "[1,2]", 27.0, "7000", false, 0]]}""".stripMargin
        .replace("\n", " ")
    Noise.classifySource(graft.ingest.OpenSkyParser.parse(Seq(payload).toDS()))
  }

  test("broadcast ground noise joins and sums in shuffle.partitions tasks on a tiny grid") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val out = Noise.groundNoise(tinyGrid, twoSources)
    // the last job's result stage runs the join, the partial and final sum
    val (tasks, stages) = resultStageTasks(out)
    assert(tasks == n, stages)
  }

  test("bucketed ground noise joins and sums in shuffle.partitions tasks on a tiny grid") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // sources sized statically, and parsed sources the planner cannot size:
    // both are broadcast onto the grid's partitioning by count
    Seq("local sources" -> twoSources, "parsed payload" -> parsedSources).foreach { case (shape, src) =>
      val out = Noise.groundNoiseBucketed(tinyGrid, src)
      // the last job's result stage runs the join, the partial and final sum
      val (tasks, stages) = resultStageTasks(out)
      assert(tasks == n, s"$shape: $stages")
      assert(out.schema.map(f => f.name -> f.dataType.typeName) ==
        Seq("g_lat" -> "double", "g_lon" -> "double", "db" -> "double"))
    }
  }

  test("property: the reach window is a superset of the 20 km disc at any latitude and across the antimeridian") {
    // ScalaCheck-generated cases: 1-4 sources clustered anywhere on the
    // globe (over-weighting |lat| >= 85, the poles and longitudes near
    // ±180), a `Noise.grid` around them (longitudes past ±180 when centred
    // near the seam) plus points within 1 m of the 20 km edge of every
    // source. Both kernels, and `groundNoise` rewritten by
    // `BucketedRangeJoinRule`, must return exactly the rows of the plain
    // cross join that sends every pair straight to the haversine.
    import org.apache.spark.sql.DataFrame
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def reference(grid: DataFrame, src: DataFrame): DataFrame =
      grid.crossJoin(broadcast(src))
        .withColumn("dist_m", haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")))
        .filter(col("dist_m") <= RMaxM)
        .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
        .groupBy("g_lat", "g_lon")
        .agg(dbPowerSum(col("contrib")).as("db"))
    def wrap(lon: Double): Double = lon - 360.0 * math.floor((lon + 180.0) / 360.0)
    // destination at `distM` along bearing `brg` (radians), longitude unwrapped
    def dest(lat: Double, lon: Double, brg: Double, distM: Double): (Double, Double) = {
      val (p1, d) = (math.toRadians(lat), distM / EarthRadiusM)
      val p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(brg))
      val dl = math.atan2(math.sin(brg) * math.sin(d) * math.cos(p1),
        math.cos(d) - math.sin(p1) * math.sin(p2))
      (math.toDegrees(p2), lon + math.toDegrees(dl))
    }
    val genLat = Gen.frequency(3 -> Gen.choose(-90.0, 90.0), 2 -> Gen.choose(85.0, 90.0),
      2 -> Gen.choose(-90.0, -85.0), 1 -> Gen.oneOf(90.0, -90.0))
    val genLon = Gen.frequency(2 -> Gen.choose(-180.0, 180.0), 2 -> Gen.choose(179.7, 180.0),
      2 -> Gen.choose(-180.0, -179.7), 1 -> Gen.oneOf(180.0, -180.0))
    val genSource = for {
      dLat <- Gen.choose(-0.15, 0.15); dLon <- Gen.choose(-0.3, 0.3)
      db <- Gen.oneOf(80.0, 90.0, 110.0, 130.0)
    } yield (dLat, dLon, db)
    val genCase = for {
      lat <- genLat; lon <- genLon
      srcs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genSource))
      step <- Gen.oneOf(500.0, 1000.0, 2000.0); n <- Gen.choose(4, 12)
      bearings <- Gen.listOfN(6, Gen.choose(0.0, 2 * math.Pi))
      edges <- Gen.listOfN(10, Gen.choose(-1.0, 1.0))
    } yield (lat, lon, srcs, step, n, bearings, edges)
    (0 until 24).foreach { i =>
      val (lat, lon, srcs, step, n, bearings, edges) =
        genCase.pureApply(Gen.Parameters.default, Seed(20261017L + i))
      val sources = srcs.map { case (dLat, dLon, db) =>
        (math.max(-90.0, math.min(90.0, lat + dLat)), wrap(lon + dLon), db, 300.0)
      }
      // the grid stays inside |lat| <= 90; its longitudes are left unwrapped
      val latLimit = 90.0 - n * Noise.latStepDeg(step) - 1e-6
      val grid = Noise.grid(spark, math.max(-latLimit, math.min(latLimit, lat)), lon, step, n)
      val edgePts = for {
        (sLat, sLon, _, _) <- sources
        (brg, j) <- (bearings ++ Seq(0.0, 0.5, 1.0, 1.5).map(_ * math.Pi)).zipWithIndex
      } yield dest(sLat, sLon, brg, RMaxM + edges(j % edges.size))
      val g = grid.union(edgePts.toDF("g_lat", "g_lon"))
      val src = sources.toDF("s_lat", "s_lon", "s_db", "s_alt")
      val expected = reference(g, src).orderBy("g_lat", "g_lon").collect()
      assert(expected.nonEmpty, s"case $i has no pair in range")
      def rewritten(): Array[org.apache.spark.sql.Row] = {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.BucketedRangeJoinRule
        try {
          val df = Noise.groundNoise(g, src)
          assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"), s"case $i")
          df.orderBy("g_lat", "g_lon").collect()
        } finally {
          spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
            .filterNot(_ == graft.plans.BucketedRangeJoinRule)
        }
      }
      Seq[(String, () => Array[org.apache.spark.sql.Row])](
        "groundNoise" -> (() => Noise.groundNoise(g, src).orderBy("g_lat", "g_lon").collect()),
        "groundNoiseBucketed" -> (() => Noise.groundNoiseBucketed(g, src).orderBy("g_lat", "g_lon").collect()),
        "groundNoise under BucketedRangeJoinRule" -> (() => rewritten())).foreach { case (k, run) =>
        val got = run()
        assert(got.sameElements(expected),
          s"case $i ($lat, $lon, $sources) $k: ${got.length} rows, reference ${expected.length}; " +
            s"missing ${expected.diff(got).take(5).toSeq}")
      }
    }
  }

  test("haversine properties: symmetry, identity, bounded by pi*R") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(60)((
      -80.0 + 160.0 * rnd.nextDouble(), -179.0 + 358.0 * rnd.nextDouble(),
      -80.0 + 160.0 * rnd.nextDouble(), -179.0 + 358.0 * rnd.nextDouble()))
    val df = pts.toDF("lat1", "lon1", "lat2", "lon2").select(
      haversineMeters(col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("dab"),
      haversineMeters(col("lat2"), col("lon2"), col("lat1"), col("lon1")).as("dba"),
      haversineMeters(col("lat1"), col("lon1"), col("lat1"), col("lon1")).as("daa"))
    df.collect().foreach { r =>
      val (dab, dba, daa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs(dab - dba) <= 1e-6 * math.max(1.0, dab))
      assert(dab >= 0 && dab <= math.Pi * EarthRadiusM + 1.0)
      assert(daa == 0.0)
    }
  }

  test("attenuation is monotone in distance and clamps below 1 m") {
    val df = spark.range(1).select(
      attenuatedDb(lit(100.0), lit(0.5)).as("near"),
      attenuatedDb(lit(100.0), lit(100.0)).as("mid"),
      attenuatedDb(lit(100.0), lit(10000.0)).as("far")).head()
    assert(df.getDouble(0) == 100.0) // clamped: no amplification below 1 m
    assert(df.getDouble(1) > df.getDouble(2))
  }
}
