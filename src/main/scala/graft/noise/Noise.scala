package graft.noise

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoCells
import graft.functions.GeoFunctions._

/** The reference pipeline's analytics core, re-expressed as distributed Spark
  * operators (reference scripts/functions.py:134-276; SURVEY.md §3.3, §7.2).
  *
  * The reference generates the grid with driver-side NumPy `meshgrid`
  * (functions.py:165-185), then `collect()`s the aircraft and runs a dense
  * |grid|x|sources| haversine matrix on the driver (functions.py:239-276).
  * Here every stage is a Catalyst plan:
  *
  *   - grid        = spark.range cross-join spark.range + arithmetic columns
  *                   (never materialized on the driver; scales to any n);
  *   - sources     = a CASE WHEN classification (functions.py:213-227);
  *   - groundNoise = broadcast nested-loop join + haversine range filter +
  *                   partial/final hash aggregation of the power-domain sum,
  *                   all in the join's stage (see Partitioning below).
  *
  * Both kernels decide "in range" with one predicate, [[inRange]]: a per-source
  * reach window (computed once per source by [[withReachWindow]], on the small
  * side) conjoined BEFORE the 20 km haversine. Catalyst generates conjunctions
  * as short-circuit code, so a pair outside the window costs three comparisons
  * and a `pmod` instead of the haversine's trig. The window is a strict superset
  * of the 20 km disc, so the output is unchanged: its bounds are the two that
  * the recall proof of `graft.functions.GeoCells` derives from the haversine,
  * |Δφ| <= r/R and a wrapped longitude gap |pmod(g_lon - s_lon + 180, 360) -
  * 180| of at most `GeoCells.lonReach` at φmax = |s_lat| + r/R.
  *
  * Both reaches are widened by (1 + ε), ε = 1e-6 (2 cm at 20 km), which dwarfs
  * the double rounding of the haversine, so a pair the haversine keeps is never
  * cut by the window. The gap is wrapped because sin²(Δλ/2) is 360°-periodic:
  * grid longitudes past ±180 (`grid` does not wrap them) and antimeridian pairs
  * are measured the short way round, as the haversine measures them. The
  * argument needs valid latitudes (|lat| <= 90), where cos φ >= 0.
  *
  * Scale posture (SURVEY.md §7.5): both kernels broadcast the sources. The
  * two differ in one decision: [[groundNoise]] pairs every grid cell with
  * every source in a nested loop, [[groundNoiseBucketed]] probes on the geo
  * cells of `graft.functions.GeoCells` (which holds their recall proof).
  * For source sets too large to broadcast, `graft.plans.BucketedRangeJoinRule`
  * rewrites [[groundNoise]] into the same cell join without a hint and lets
  * the planner choose, shuffling both sides on the cell key if it must.
  *
  * Partitioning: both kernels hash-partition the grid on (g_lat, g_lon) by an
  * explicit count ([[byCount]]), which AQE's byte-based coalescing leaves at
  * `spark.sql.shuffle.partitions` tasks. The broadcast join keeps that
  * partitioning, so the join, the partial and final sum on (g_lat, g_lon)
  * and whatever consumes the result (`heatmapRows`, a sink) run in one stage
  * at that parallelism, with no exchange after the join.
  */
object Noise {

  /** Demo airport: Nantes Atlantique (reference functions.py:189-192). */
  val NantesLat = 47.1542
  val NantesLon = -1.6044

  /** Lat/lon step sizes in degrees for a ground grid of `stepM`-metre cells
    * around latitude `atLat` (reference functions.py:134-162: the longitude
    * step is scaled by cos(latitude of the airport), computed once).
    */
  def latStepDeg(stepM: Double): Double = stepM / EarthRadiusM * (180.0 / math.Pi)
  def lonStepDeg(stepM: Double, atLat: Double): Double =
    stepM / (EarthRadiusM * math.cos(atLat * math.Pi / 180.0)) * (180.0 / math.Pi)

  /** (2n+1)^2-cell ground grid centred on (lat0, lon0), built distributed from
    * two `spark.range`s (reference functions.py:165-185 builds the same grid
    * as a driver-side meshgrid). Coordinates are rounded to 6 decimals so
    * group-by keys are stable across engines (libm-free arithmetic, but the
    * rounding also keeps the downstream aggregation keys exact).
    *
    * Output: (g_lat: double, g_lon: double), sorted south→north / west→east by
    * construction semantics (ordering applied by callers that need it).
    */
  def grid(spark: SparkSession, lat0: Double, lon0: Double, stepM: Double, n: Int): DataFrame = {
    val dLat = latStepDeg(stepM)
    val dLon = lonStepDeg(stepM, lat0)
    val is = spark.range(-n.toLong, n + 1L).toDF("i")
    val js = spark.range(-n.toLong, n + 1L).toDF("j")
    is.crossJoin(js).select(
      graft.functions.Det.rdet(lit(lat0) + col("i") * dLat, 6).as("g_lat"),
      graft.functions.Det.rdet(lit(lon0) + col("j") * dLon, 6).as("g_lon"))
  }

  /** Bounding box of the grid (reference functions.py:179-184) — pushed into
    * sources as a filter, mirroring the reference's server-side bbox pushdown
    * (functions.py:42-50).
    */
  final case class BBox(laMin: Double, loMin: Double, laMax: Double, loMax: Double)

  def bbox(lat0: Double, lon0: Double, stepM: Double, n: Int): BBox = {
    val dLat = latStepDeg(stepM) * n
    val dLon = lonStepDeg(stepM, lat0) * n
    BBox(lat0 - dLat, lon0 - dLon, lat0 + dLat, lon0 + dLon)
  }

  /** Flight-phase → source noise classification (reference functions.py:213-227),
    * the canonical CASE WHEN. Input df needs columns
    * (latitude, longitude, on_ground, vertical_rate, geo_altitude).
    * On-ground → 80 dB at the 27 m reference altitude; climbing (>1.5 m/s) →
    * 130 dB; descending (<-1.5 m/s) → 110 dB; cruise → 90 dB. Null
    * vertical_rate is treated as cruise and null positions are dropped
    * (deviation Q5, SURVEY.md §7.4 — the reference crashes on them).
    */
  def classifySource(df: DataFrame): DataFrame = {
    val vr = col("vertical_rate")
    df.filter(col("latitude").isNotNull && col("longitude").isNotNull &&
        col("on_ground").isNotNull)
      .select(
        col("latitude").as("s_lat"),
        col("longitude").as("s_lon"),
        when(col("on_ground"), lit(80.0d))
          .when(vr < -1.5d, lit(110.0d))
          .when(vr > 1.5d, lit(130.0d))
          .otherwise(lit(90.0d)).as("s_db"),
        when(col("on_ground"), lit(RefAltM))
          .otherwise(coalesce(col("geo_altitude"), lit(RefAltM))).as("s_alt"))
  }

  /** Relative widening of both reach-window bounds (see the object header). */
  private val ReachEps = 1e-6

  /** Latitude reach r/R of the 20 km cutoff, in degrees, widened by ε. */
  private val LatReachDeg = RMaxM / EarthRadiusM * (180.0 / math.Pi) * (1.0 + ReachEps)

  /** The kernels' geo cells, whose [[GeoCells.lonReach]] the window shares. */
  private val Cells = GeoCells(RMaxM)

  private def expr(name: String) = GraftBridge.expression(col(name))

  /** Adds each source's reach window: the latitude band
    * [`s_lat_lo`, `s_lat_hi`] = s_lat ± r/R·(1+ε) and the longitude reach
    * `s_lon_reach` in degrees, evaluated at φmax = |s_lat| + the latitude
    * reach and widened by (1+ε).
    */
  private def withReachWindow(sources: DataFrame): DataFrame =
    sources
      .withColumn("s_lat_lo", col("s_lat") - LatReachDeg)
      .withColumn("s_lat_hi", col("s_lat") + LatReachDeg)
      .withColumn("s_lon_reach",
        degrees(GraftBridge.column(Cells.lonReach(GraftBridge.expression(
          abs(col("s_lat")) + LatReachDeg)))) * (1.0 + ReachEps))

  /** The grid hash-partitioned on (g_lat, g_lon) into
    * `spark.sql.shuffle.partitions` partitions, as a REPARTITION_BY_NUM
    * exchange. The noise kernels' inputs are a few MB (a row's cost is its
    * haversines, not its bytes), far below AQE's advisory partition size, so
    * with `coalescePartitions.parallelismFirst=false` (see `graft.Session`)
    * AQE would coalesce a hash exchange the planner inserted to one
    * partition, and the join and the sums would run in one task. AQE does
    * not coalesce an exchange partitioned by an explicit count.
    */
  private def byCount(gridDf: DataFrame): DataFrame = {
    val partitions = gridDf.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    gridDf.repartition(partitions, col("g_lat"), col("g_lon"))
  }

  /** The in-range predicate both kernels share: the reach window first (cheap
    * comparisons that short-circuit), then the exact haversine cutoff on the
    * pair's `dist_m`.
    */
  private def inRange(dist: Column): Column = {
    val lonGap = abs(pmod(col("g_lon") - col("s_lon") + 180.0d, lit(360.0d)) - 180.0d)
    col("g_lat") >= col("s_lat_lo") && col("g_lat") <= col("s_lat_hi") &&
      lonGap <= col("s_lon_reach") && dist <= RMaxM
  }

  /** The tail both kernels share: each candidate pair's haversine, the
    * [[inRange]] filter, inverse-square attenuation and the per-cell
    * power-domain sum on (g_lat, g_lon). Output (g_lat, g_lon, db).
    */
  private def perCellDb(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("dist_m", haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")))
      .filter(inRange(col("dist_m")))
      .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
      .groupBy("g_lat", "g_lon")
      .agg(dbPowerSum(col("contrib")).as("db"))

  /** Ground-level noise estimation (reference functions.py:239-276):
    * grid x sources broadcast join, 20 km haversine cutoff, inverse-square
    * attenuation, per-cell power-domain sum. Output (g_lat, g_lon, db).
    *
    * The source side, with its reach window, is explicitly `broadcast(...)`:
    * physical plan is a BroadcastNestedLoopJoin with the [[inRange]] predicate.
    * The join still visits every grid×source pair, but a pair outside the
    * source's window is rejected before the haversine.
    */
  def groundNoise(gridDf: DataFrame, sources: DataFrame): DataFrame =
    perCellDb(byCount(gridDf).crossJoin(broadcast(withReachWindow(sources))))

  /** [[groundNoise]] with the nested loop replaced by a probe on the geo cell
    * key (SURVEY.md §7.5): the grid gets its `GeoCells` key above its
    * (g_lat, g_lon) exchange, the sources explode into their neighbour keys
    * and are broadcast, and the join is a hash equi-join on
    * (cell_i, cell_j), valid at every latitude and across the antimeridian.
    * A grid cell meets only the sources of its own key. Same semantics as
    * [[groundNoise]] on any input with valid latitudes (|lat| <= 90).
    */
  def groundNoiseBucketed(gridDf: DataFrame, sources: DataFrame): DataFrame = {
    val (cellI, cellJ) = Cells.key(expr("g_lat"), expr("g_lon"))
    val g = byCount(gridDf).select(col("*"),
      GraftBridge.column(cellI).as("cell_i"), GraftBridge.column(cellJ).as("cell_j"))
    val s = withReachWindow(sources)
      .withColumn("cell_i", explode(GraftBridge.column(Cells.neighbourBands(expr("s_lat")))))
      .withColumn("nl", GraftBridge.column(Cells.nLon(expr("cell_i"))))
      .withColumn("cell_j", explode(GraftBridge.column(Cells.neighbourRings(expr("s_lon"), expr("nl")))))
      .drop("nl")
    perCellDb(g.join(broadcast(s), Seq("cell_i", "cell_j")))
  }

  /** Heatmap sink rows (reference functions.py:290-328): intensity = db/130
    * (functions.py:302). Replaces the folium HTML sink with a columnar frame
    * any `df.write.*` sink can persist.
    */
  def heatmapRows(noise: DataFrame): DataFrame =
    noise.select(col("g_lat"), col("g_lon"), col("db"),
      (col("db") / 130.0d).as("intensity"))
}
