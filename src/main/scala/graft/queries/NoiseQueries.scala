package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det
import graft.functions.GeoFunctions._
import graft.noise.Noise

/** The reference pipeline's analytics core as oracle-checked queries
  * (reference scripts/functions.py:134-276; SURVEY.md §3.3).
  *
  * The aircraft "sources" are derived deterministically from the `events`
  * table (pure integer arithmetic on event_id + a CASE over event_type that
  * mirrors the reference's flight-phase → dB table, functions.py:217-226), so
  * the DuckDB oracle sees identical inputs without any network or fixture
  * dependency.
  */
object NoiseQueries {

  private val Lat0 = Noise.NantesLat
  private val Lon0 = Noise.NantesLon
  private val StepM = 500.0
  private val N = 30

  /** Deterministic synthetic aircraft derived from an events frame: every
    * 97th event, positioned within ~±0.1° of the airport, dB per the
    * reference's classification table. The `keep` columns come first, then
    * (s_lat, s_lon, s_db, s_alt).
    */
  def sourcesOf(events: DataFrame, keep: Column*): DataFrame =
    events
      .filter(pmod(col("event_id"), lit(97L)) === 0)
      .select(keep ++ Seq(
        (lit(Lat0) + (pmod(col("event_id") * 7919L + 13L, lit(4001L)) - 2000L) * 0.00005d).as("s_lat"),
        (lit(Lon0) + (pmod(col("event_id") * 104729L + 7L, lit(4001L)) - 2000L) * 0.00005d).as("s_lon"),
        when(col("event_type") === "error", 110.0d)
          .when(col("event_type") === "signup", 80.0d)
          .when(col("event_type") === "purchase", 130.0d)
          .otherwise(90.0d).as("s_db"),
        (lit(100.0d) + pmod(col("event_id"), lit(900L)).cast("double")).as("s_alt")): _*)

  /** [[sourcesOf]] the `events` table. */
  def sources(s: SparkSession, dir: String): DataFrame = sourcesOf(Tables.load(s, dir, "events"))

  private[queries] val sourcesSql: String = """
    SELECT 47.1542e0 + (((event_id*7919+13) % 4001) - 2000) * 0.00005e0 AS s_lat,
           -1.6044e0 + (((event_id*104729+7) % 4001) - 2000) * 0.00005e0 AS s_lon,
           CASE WHEN event_type = 'error' THEN 110.0e0
                WHEN event_type = 'signup' THEN 80.0e0
                WHEN event_type = 'purchase' THEN 130.0e0
                ELSE 90.0e0 END AS s_db,
           100.0e0 + CAST(event_id % 900 AS DOUBLE) AS s_alt
    FROM events WHERE event_id % 97 = 0"""

  private[queries] val gridSql: String = s"""
    SELECT floor((47.1542e0 + i * ((500.0e0/6371000.0e0)*(180.0e0/pi()))) * 1e6 + 0.5)/1e6 AS g_lat,
           floor((-1.6044e0 + j * ((500.0e0/(6371000.0e0*cos(47.1542e0*pi()/180.0e0)))*(180.0e0/pi()))) * 1e6 + 0.5)/1e6 AS g_lon
    FROM generate_series(-$N, $N) gi(i), generate_series(-$N, $N) gj(j)"""

  private[queries] def haversineSql(gLat: String, gLon: String, sLat: String, sLon: String): String =
    s"""2.0e0*6371000.0e0*asin(sqrt(pow(sin(($sLat-$gLat)*pi()/360.0e0),2)
       | + cos($gLat*pi()/180.0e0)*cos($sLat*pi()/180.0e0)*pow(sin(($sLon-$gLon)*pi()/360.0e0),2)))"""
      .stripMargin.replace("\n", " ")

  /** The power-domain sum of each source's attenuated level over `dist_m`. */
  private val dbSql: String = {
    val contrib = "s_db - 20.0e0*log10(greatest(dist_m, 1.0e0))"
    Det.rdetSql(s"10.0e0*log10(${Det.dsumSql(s"pow(10.0e0, ($contrib)/10.0e0)")})", 2)
  }

  /** Noise per grid cell from every source whose `dist` is within 20 km. */
  private def gridNoiseSql(dist: String): String = s"""
      WITH grid AS ($gridSql),
           src AS ($sourcesSql),
           pairs AS (
             SELECT g_lat, g_lon, s_db, ($dist) AS dist_m FROM grid, src)
      SELECT g_lat, g_lon, $dbSql AS db
      FROM pairs WHERE dist_m <= 20000.0e0
      GROUP BY g_lat, g_lon
      ORDER BY g_lat, g_lon"""

  private val groundNoiseSql: String =
    gridNoiseSql(haversineSql("g_lat", "g_lon", "s_lat", "s_lon"))

  /** Grid generation alone (reference functions.py:165-185): distributed
    * spark.range cross join, no driver materialization.
    */
  val q18GridGen: QueryDef = QueryDef(
    "q18_grid_gen",
    (s, _) => Noise.grid(s, Lat0, Lon0, StepM, N).orderBy("g_lat", "g_lon"),
    Some(s"SELECT g_lat, g_lon FROM ($gridSql) ORDER BY g_lat, g_lon"))

  /** The flagship query — the full reference pipeline core (SURVEY.md §3.3):
    * grid × sources broadcast join → 20 km haversine cutoff → attenuation →
    * per-cell power-domain sum.
    */
  val q19NoiseFlagship: QueryDef = QueryDef(
    "q19_noise_flagship",
    (s, dir) => Noise.groundNoise(
        Noise.grid(s, Lat0, Lon0, StepM, N), sources(s, dir))
      .orderBy("g_lat", "g_lon"),
    Some(groundNoiseSql))

  /** Same semantics via the 100 TB scale path: geo-cell-bucketed equi-join
    * instead of a cross join (SURVEY.md §7.5). Shares the flagship's oracle —
    * the two plans must agree exactly.
    */
  val q20NoiseBucketed: QueryDef = QueryDef(
    "q20_noise_bucketed",
    (s, dir) => Noise.groundNoiseBucketed(
        Noise.grid(s, Lat0, Lon0, StepM, N), sources(s, dir))
      .orderBy("g_lat", "g_lon"),
    Some(groundNoiseSql))

  /** The 3-D slant-distance variant (the reference's dead `distance` fn,
    * functions.py:194-211 — intended physics, SURVEY.md §7.4 Q2).
    */
  val q21NoiseSlant3d: QueryDef = QueryDef(
    "q21_noise_slant3d",
    (s, dir) => {
      val g = Noise.grid(s, Lat0, Lon0, StepM, N)
      g.crossJoin(broadcast(sources(s, dir)))
        .withColumn("dist_m",
          slantDistanceMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon"), col("s_alt")))
        .filter(col("dist_m") <= RMaxM)
        .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
        .groupBy("g_lat", "g_lon")
        .agg(dbPowerSum(col("contrib")).as("db"))
        .orderBy("g_lat", "g_lon")
    },
    Some(gridNoiseSql(
      s"sqrt(pow(${haversineSql("g_lat", "g_lon", "s_lat", "s_lon")}, 2) + pow(s_alt - 27.0e0, 2))")))

  /** Heatmap sink rows (reference functions.py:290-328): intensity = db/130
    * (functions.py:302), replacing the folium HTML sink with columnar rows.
    */
  val q22Heatmap: QueryDef = QueryDef(
    "q22_heatmap_rows",
    (s, dir) => Noise.heatmapRows(
        Noise.groundNoise(Noise.grid(s, Lat0, Lon0, StepM, N), sources(s, dir)))
      .orderBy("g_lat", "g_lon"),
    Some(s"""
      SELECT g_lat, g_lon, db, db / 130.0e0 AS intensity
      FROM ($groundNoiseSql) ORDER BY g_lat, g_lon"""))

  /** Source classification alone (reference functions.py:213-227) — the
    * CASE WHEN table over deterministic synthetic aircraft.
    */
  val q23ClassifySources: QueryDef = QueryDef(
    "q23_classify_sources",
    (s, dir) => sources(s, dir)
      .select(
        Det.rdet(col("s_lat"), 6).as("s_lat"), Det.rdet(col("s_lon"), 6).as("s_lon"),
        col("s_db"), col("s_alt"))
      .orderBy("s_lat", "s_lon", "s_db"),
    Some(s"""
      SELECT ${Det.rdetSql("s_lat", 6)} AS s_lat, ${Det.rdetSql("s_lon", 6)} AS s_lon,
             s_db, s_alt
      FROM ($sourcesSql) ORDER BY s_lat, s_lon, s_db"""))

  /** Noise as a time series — the dimension the reference ignores despite
    * carrying epoch columns (SURVEY.md §1.1): daily noise level at the
    * airport receptor point from that day's sources within the 20 km
    * cutoff. Day buckets are exact integer epoch arithmetic.
    */
  val q64NoiseTimeseries: QueryDef = QueryDef(
    "q64_noise_timeseries",
    (s, dir) => {
      import graft.functions.GeoFunctions._
      sourcesOf(Tables.load(s, dir, "events"),
          expr("(unix_micros(ts) DIV 86400000000) * 86400000000").as("day_us"))
        .withColumn("dist_m",
          haversineMeters(lit(Lat0), lit(Lon0), col("s_lat"), col("s_lon")))
        .filter(col("dist_m") <= RMaxM)
        .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
        .groupBy("day_us")
        .agg(dbPowerSum(col("contrib")).as("db"), count(lit(1)).as("n_sources"))
        .orderBy("day_us")
    },
    Some {
      // parenthesized: "s_lon - -1.6044" would otherwise emit "--", a SQL comment
      val dist = haversineSql("47.1542e0", "(-1.6044e0)", "s_lat", "s_lon")
      s"""
      WITH src AS (
        SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               47.1542e0 + (((event_id*7919+13) % 4001) - 2000) * 0.00005e0 AS s_lat,
               -1.6044e0 + (((event_id*104729+7) % 4001) - 2000) * 0.00005e0 AS s_lon,
               CASE WHEN event_type = 'error' THEN 110.0e0
                    WHEN event_type = 'signup' THEN 80.0e0
                    WHEN event_type = 'purchase' THEN 130.0e0
                    ELSE 90.0e0 END AS s_db
        FROM events WHERE event_id % 97 = 0),
      d AS (SELECT day_us, s_db, ($dist) AS dist_m FROM src)
      SELECT day_us, $dbSql AS db, count(*) AS n_sources
      FROM d WHERE dist_m <= 20000.0e0
      GROUP BY day_us ORDER BY day_us"""
    })

  val all: Seq[QueryDef] = Seq(
    q18GridGen, q19NoiseFlagship, q20NoiseBucketed, q21NoiseSlant3d,
    q22Heatmap, q23ClassifySources, q64NoiseTimeseries)
}
