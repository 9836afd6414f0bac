package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Plain-Scala ground-noise reference, written from the model's definition
  * rather than from the Spark plan: haversine distance, 20 km cutoff,
  * inverse-square attenuation, power-domain sum and the 2-decimal rounding
  * of the published map. The checks compare Spark's maps against it.
  *
  * Grid geometry follows `genCoords(centre, step, n)`: (2n+1)² cells,
  * coordinates rounded half-up to 6 decimals.
  */
object NoiseReference {
  val EarthRadiusM = 6371000.0
  val CutoffM = 20000.0

  final case class Grid(lat0: Double, lon0: Double, stepM: Double, n: Int) {
    val dLat: Double = stepM / EarthRadiusM * (180.0 / math.Pi)
    val dLon: Double = stepM / (EarthRadiusM * math.cos(lat0 * math.Pi / 180.0)) * (180.0 / math.Pi)
    def lat(i: Int): Double = round(lat0 + i.toLong * dLat, 6)
    def lon(j: Int): Double = round(lon0 + j.toLong * dLon, 6)
    def cells: Long = (2L * n + 1) * (2L * n + 1)
    def box: Payloads.Box = Payloads.Box(lat0 - dLat * n, lon0 - dLon * n, lat0 + dLat * n, lon0 + dLon * n)
  }

  /** Half-up rounding to k decimals: floor(x·10^k + 0.5) / 10^k. */
  def round(x: Double, k: Int): Double = {
    val p = math.pow(10, k)
    math.floor(x * p + 0.5).toLong / p
  }

  def haversineM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2 * EarthRadiusM * math.asin(math.sqrt(a))
  }

  /** Level in dB one source adds at distance `d` (distance clamped at 1 m). */
  def attenuated(sourceDb: Double, d: Double): Double = sourceDb - 20 * math.log10(math.max(d, 1.0))

  /** The published level of one cell, or None when no source is in range.
    * Linear powers are summed at 8 decimals and floored to cents before the
    * log, the map's exact, order-independent accumulation.
    */
  def cellDb(lat: Double, lon: Double, sources: Seq[Payloads.Aircraft]): Option[Double] = {
    var sum = JBigDecimal.ZERO
    var any = false
    sources.foreach { s =>
      val d = haversineM(lat, lon, s.lat, s.lon)
      if (d <= CutoffM) {
        any = true
        val p = math.pow(10, attenuated(s.sourceDb, d) / 10)
        sum = sum.add(new JBigDecimal(java.lang.Double.toString(p)).setScale(8, RoundingMode.HALF_UP))
      }
    }
    if (!any) None
    else {
      val cents = sum.movePointRight(2).setScale(0, RoundingMode.FLOOR).longValueExact()
      Some(round(10 * math.log10(cents / 100.0), 2))
    }
  }

  /** Number of grid cells with at least one source within the cutoff. Each
    * source only visits the cells of its own cutoff window.
    */
  def coverage(grid: Grid, sources: Seq[Payloads.Aircraft]): Long = {
    val side = 2 * grid.n + 1
    val lats = Array.tabulate(side)(k => grid.lat(k - grid.n))
    val lons = Array.tabulate(side)(k => grid.lon(k - grid.n))
    val covered = new java.util.BitSet(side * side)
    // a cutoff window one cell wider than 20 km on each side
    val di = math.ceil(CutoffM / grid.stepM).toInt + 1
    val dj = math.ceil(CutoffM / (grid.stepM * math.cos(math.toRadians(grid.lat0 + grid.dLat * grid.n)))).toInt + 1
    sources.foreach { s =>
      val ci = math.round((s.lat - grid.lat0) / grid.dLat).toInt + grid.n
      val cj = math.round((s.lon - grid.lon0) / grid.dLon).toInt + grid.n
      var i = math.max(0, ci - di)
      while (i <= math.min(side - 1, ci + di)) {
        var j = math.max(0, cj - dj)
        while (j <= math.min(side - 1, cj + dj)) {
          if (haversineM(lats(i), lons(j), s.lat, s.lon) <= CutoffM) covered.set(i * side + j)
          j += 1
        }
        i += 1
      }
    }
    covered.cardinality().toLong
  }
}
