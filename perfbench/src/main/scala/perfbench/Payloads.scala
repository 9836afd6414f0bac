package perfbench

import java.util.{Locale, SplittableRandom}

/** Seeded OpenSky `/api/states/all` payloads in the API's exact shape: a
  * `time` plus `states`, an array of 17-slot positional arrays.
  *
  * Each snapshot mixes what live traffic sends: right-padded callsigns,
  * about 2% null positions, vertical rates sitting on the ±1.5 m/s phase
  * boundaries or null, `"[1,2]"` sensor strings, and a few malformed slots
  * (a non-numeric latitude, a non-boolean on_ground) that the parser must
  * turn into nulls so the noise stage drops the row.
  *
  * Alongside the JSON it returns the ground truth of every state, so the
  * checks can build their expected noise map without going through Spark.
  */
object Payloads {

  /** One generated state vector as the checks see it. `usable` is false for
    * null or malformed positions and a malformed on_ground.
    */
  final case class Aircraft(lat: Double, lon: Double, onGround: Boolean,
                            verticalRate: Option[Double], usable: Boolean) {
    /** Flight-phase source level in dB (the reference's classification). */
    def sourceDb: Double =
      if (onGround) 80.0
      else verticalRate match {
        case Some(v) if v < -1.5 => 110.0
        case Some(v) if v > 1.5 => 130.0
        case _ => 90.0
      }
  }

  final case class Snapshot(json: String, aircraft: IndexedSeq[Aircraft]) {
    def usable: IndexedSeq[Aircraft] = aircraft.filter(_.usable)
  }

  final case class Box(laMin: Double, loMin: Double, laMax: Double, loMax: Double)

  private val Countries = Array("France", "Ireland", "United Kingdom", "Germany",
    "Spain", "Netherlands", "Belgium", "Portugal")
  private val Airlines = Array("AFR", "RYR", "EZY", "TVF", "VLG", "KLM", "BAW", "IBE")

  /** Snapshot `index` of the stream seeded by `seed`: `count` states, all
    * inside `box`. The same (seed, index) always gives the same bytes.
    */
  def snapshot(seed: Long, index: Int, box: Box, count: Int): Snapshot = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + index * 0xBF58476D1CE4E5B9L + 1L)
    val time = 1757059200L + index * 10L
    val sb = new StringBuilder(count * 160)
    sb.append("{\"time\":").append(time).append(",\"states\":[")
    val aircraft = (0 until count).map { k =>
      if (k > 0) sb.append(',')
      state(rnd, time, box, sb)
    }
    sb.append("]}")
    Snapshot(sb.toString, aircraft)
  }

  private def fmt(x: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(x))

  /** Appends one positional state array and returns its ground truth. */
  private def state(rnd: SplittableRandom, time: Long, box: Box, sb: StringBuilder): Aircraft = {
    val icao = f"${rnd.nextInt(0x1000000)}%06x"
    val callsign = Airlines(rnd.nextInt(Airlines.length)) + rnd.nextInt(10, 9999).toString
    val padded = callsign.padTo(8, ' ')
    val country = Countries(rnd.nextInt(Countries.length))
    val latS = fmt(box.laMin + rnd.nextDouble() * (box.laMax - box.laMin), 5)
    val lonS = fmt(box.loMin + rnd.nextDouble() * (box.loMax - box.loMin), 5)
    val positionRoll = rnd.nextInt(100)
    val nullPosition = positionRoll < 2
    val malformedLat = positionRoll == 2
    val malformedGround = rnd.nextInt(100) == 0
    val onGround = rnd.nextInt(100) < 15
    // phase mix: boundary values and nulls must all appear in every run
    val vr: Option[Double] =
      if (onGround) Some(0.0)
      else rnd.nextInt(20) match {
        case 0 => Some(-1.5)
        case 1 => Some(1.5)
        case 2 => None
        case _ => Some(fmt(rnd.nextDouble() * 30.0 - 15.0, 2).toDouble)
      }
    val geoAlt: Option[Double] =
      if (onGround) None
      else if (rnd.nextInt(25) == 0) None
      else Some(fmt(300.0 + rnd.nextDouble() * 11000.0, 1).toDouble)
    val sensors = if (rnd.nextInt(3) == 0) "null" else "\"[1,2]\""
    val squawk = if (rnd.nextInt(10) == 0) "null" else "\"" + (1000 + rnd.nextInt(6777)) + "\""

    def str(s: String) = "\"" + s + "\""
    def opt(o: Option[Double], d: Int) = o.map(fmt(_, d)).getOrElse("null")
    val slots = Seq(
      str(icao),
      str(padded),
      str(country),
      if (nullPosition) "null" else (time - rnd.nextInt(10)).toString,
      (time - rnd.nextInt(5)).toString,
      if (nullPosition) "null" else lonS,
      if (nullPosition) "null" else if (malformedLat) str("n/a") else latS,
      if (onGround) "null" else fmt(geoAlt.getOrElse(1000.0) - 30.0, 1),
      if (malformedGround) str("maybe") else onGround.toString,
      fmt(if (onGround) rnd.nextDouble() * 15.0 else 80.0 + rnd.nextDouble() * 170.0, 2),
      fmt(rnd.nextDouble() * 360.0, 2),
      vr.map(fmt(_, 2)).getOrElse("null"),
      sensors,
      opt(geoAlt, 1),
      squawk,
      "false",
      rnd.nextInt(4).toString)
    sb.append(slots.mkString("[", ",", "]"))
    Aircraft(latS.toDouble, lonS.toDouble, onGround, vr,
      usable = !nullPosition && !malformedLat && !malformedGround)
  }
}
