package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.DoubleType

import GeoFunctions.EarthRadiusM

/** The geo cells that turn "within `radiusM` metres" into an equi-join
  * (SURVEY.md §7.5); `Noise.groundNoiseBucketed` and
  * `plans.BucketedRangeJoinRule` both join on them. A point's key is
  * (band, ring cell): latitude bands 2r/R high and, per band, a ring of
  * [[nLon]] equal longitude cells indexed on the wrapped longitude, so
  * antimeridian pairs land in adjacent cells (near a pole the ring is one
  * cell). A source's neighbour keys are its 3 touching bands and, per band,
  * the distinct ring cells at and beside its own (distinct, so a 1-cell ring
  * cannot duplicate a pair into a power sum).
  *
  * Recall proof, for valid latitudes (|lat| <= 90, where cos φ >= 0):
  *
  *   sin²(d/2R) = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2), both terms >= 0
  *   => d <= r implies |Δφ| <= r/R, half a band: the point's band is the
  *      source's or one beside it;
  *   => with both |φ| <= φmax, sin(|Δλ|/2) <= sin(r/2R)/cos φmax: the
  *      wrapped longitude gap is at most [[lonReach]](φmax).
  *
  * For the point's band b, φmax is b's |lat| ceiling plus one band (the
  * source is within half a band), capped at 90, and nLon(b) = max(1,
  * floor(2π / lonReach(φmax))), so a ring cell is at least the reach wide
  * and the pair's ring cells at b's resolution are equal or adjacent modulo
  * nLon: every within-radius pair shares a key. Invalid latitudes break it:
  * (100°, 0°) and (80°, 179.9°) are 1.93 km apart by the haversine but sit
  * in bands 277 and 222 at r = 20 km.
  *
  * The builders return Catalyst expressions because the optimizer rule runs
  * on resolved plans, where the unresolved functions of Spark's
  * `functions.*` cannot go; `Noise` wraps them as columns.
  */
final case class GeoCells(radiusM: Double) {

  /** Band height in degrees: 2r/R, twice the latitude reach. */
  private val bandDeg = radiusM / EarthRadiusM * (180.0 / math.Pi) * 2.0

  private val sinHalfReach = math.sin(radiusM / (2.0 * EarthRadiusM))

  /** Longitude reach in radians of any within-radius pair whose latitudes
    * are both at most `phiMaxDeg` in magnitude: 2·asin(sin(r/2R)/cos φmax),
    * or the whole circle 2π once cos φmax <= sin(r/2R) (the cap around a
    * pole).
    */
  def lonReach(phiMaxDeg: Expression): Expression = {
    val cosMax = Cos(ToRadians(phiMaxDeg))
    CaseWhen(Seq(LessThanOrEqual(cosMax, Literal(sinHalfReach)) -> Literal(2.0 * math.Pi)),
      Multiply(Asin(Divide(Literal(sinHalfReach), cosMax)), Literal(2.0)))
  }

  private def band(lat: Expression): Expression = Floor(Divide(lat, Literal(bandDeg)))

  /** Ring cells of band `b`: each covers the longitude reach of any pair
    * with a point in this band.
    */
  def nLon(b: Expression): Expression = {
    def edge(e: Expression) = Abs(Multiply(Cast(e, DoubleType), Literal(bandDeg)))
    val phiMax = Least(Seq(Literal(90.0),
      Add(Greatest(Seq(edge(b), edge(Add(b, Literal(1L))))), Literal(bandDeg))))
    Greatest(Seq(Literal(1L), Floor(Divide(Literal(2.0 * math.Pi), lonReach(phiMax)))))
  }

  /** Ring index 0..n-1 of the longitude wrapped into [-180, 180) (the
    * clamp guards rounding up to n).
    */
  private def ringCell(lon: Expression, n: Expression): Expression =
    Least(Seq(Subtract(n, Literal(1L)), Floor(Multiply(
      Divide(Pmod(Add(lon, Literal(180.0)), Literal(360.0)), Literal(360.0)), Cast(n, DoubleType)))))

  /** A point's own key: (band, ring cell), both long. */
  def key(lat: Expression, lon: Expression): (Expression, Expression) =
    (band(lat), ringCell(lon, nLon(band(lat))))

  /** A source's neighbour bands, array<long>: its band and the two beside
    * it. Explode them as cell_i, then [[neighbourRings]] at nLon(cell_i) as
    * cell_j.
    */
  def neighbourBands(lat: Expression): Expression =
    CreateArray(Seq(-1L, 0L, 1L).map(d => Add(band(lat), Literal(d))))

  /** A source's distinct neighbour ring cells at resolution `n`, the nLon of
    * one of its neighbour bands (an attribute, so that it is computed once
    * per band): array<long>.
    */
  def neighbourRings(lon: Expression, n: Expression): Expression =
    ArrayDistinct(CreateArray(Seq(-1L, 0L, 1L).map(d =>
      Pmod(Add(ringCell(lon, n), Literal(d)), n))))
}
