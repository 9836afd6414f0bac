package graft

import org.apache.spark.sql.functions._

/** Golden-fixture test (SURVEY.md §5.2 item 6): the frozen OpenSky payload
  * through parse → classify → grid → ground-noise, pinned to expected cell
  * values that were independently reproduced by the DuckDB oracle formula
  * (§3.3) — not self-derived from this implementation alone.
  *
  * Also pins the §7.4 Q1 decision: two aircraft at identical coordinates
  * BOTH contribute to the power sum (the reference's dict silently drops one
  * — physically wrong; deviation documented in SURVEY/COVERAGE).
  */
class GoldenFixtureSpec extends SparkTestBase {
  import spark.implicits._

  private val payload =
    """{ "time": 1757059200, "states": [
      | ["39c4a1", "AFR123  ", "France", 1757059190, 1757059195,
      |  -1.6100, 47.1600, 310.5, false, 82.3, 184.2, 4.2, null, 335.2, "1000", false, 0],
      | ["4ca7b3", "RYR45Q  ", "Ireland", 1757059188, 1757059195,
      |  -1.5800, 47.1400, null, true, 4.1, 90.0, 0.0, "[1,2]", 27.0, "7000", false, 0] ] }"""
      .stripMargin.replace("\n", " ")

  test("fixture pipeline matches oracle-reproduced golden cells") {
    val out = noise.Noise.groundNoise(
        noise.Noise.grid(spark, 47.1542, -1.6044, 500.0, 4),
        noise.Noise.classifySource(ingest.OpenSkyParser.parse(Seq(payload).toDS())))
      .orderBy("g_lat", "g_lon").collect()
    assert(out.length == 81) // all 9x9 cells within 20 km of both sources
    val golden = Seq( // verified against the DuckDB §3.3 formula
      (47.136214, -1.63085, 60.23),
      (47.136214, -1.624237, 60.89),
      (47.136214, -1.617625, 61.35),
      (47.136214, -1.611012, 61.55),
      (47.136214, -1.6044, 61.44))
    golden.zip(out.take(5)).foreach { case ((la, lo, db), r) =>
      assert(r.getDouble(0) == la && r.getDouble(1) == lo && r.getDouble(2) == db,
        s"cell ($la,$lo) want $db got ${r.toSeq}")
    }
  }

  test("Q1 decision: co-located aircraft both contribute to the power sum") {
    val one = Seq((0.0, 0.0, false, Some(0.0), Some(100.0)))
      .toDF("latitude", "longitude", "on_ground", "vertical_rate", "geo_altitude")
    val two = one.union(one) // identical coordinates, identical phase
    val grid = Seq((0.01, 0.0)).toDF("g_lat", "g_lon")
    val dbOne = noise.Noise.groundNoise(grid, noise.Noise.classifySource(one))
      .head().getDouble(2)
    val dbTwo = noise.Noise.groundNoise(grid, noise.Noise.classifySource(two))
      .head().getDouble(2)
    // doubling identical sources adds 10*log10(2) ≈ 3.01 dB
    assert(math.abs((dbTwo - dbOne) - 10 * math.log10(2.0)) < 0.02,
      s"one=$dbOne two=$dbTwo")
  }
}
