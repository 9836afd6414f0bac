package graft

import graft.ingest.OpenSkyParser

/** Ingest parity tests against the FIXTURES.md payload shape — covers the
  * on-ground / climbing / descending / cruise phases, null position, null
  * sensors, bracketed sensors string, and the states:null / states:[] guards
  * (reference functions.py:56-114).
  */
class OpenSkyParserSpec extends SparkTestBase {
  import spark.implicits._

  private val payload =
    """{ "time": 1757059200,
      |  "states": [
      |    ["39c4a1", "AFR123  ", "France", 1757059190, 1757059195,
      |     -1.6100, 47.1600, 310.5, false, 82.3, 184.2, 4.2, null,
      |     335.2, "1000", false, 0],
      |    ["4ca7b3", "RYR45Q  ", "Ireland", 1757059188, 1757059195,
      |     -1.5800, 47.1400, null, true, 4.1, 90.0, 0.0, "[1,2]",
      |     27.0, "7000", false, 0],
      |    ["aabbcc", "NOPOS   ", "Nowhere", null, 1757059195,
      |     null, null, null, false, null, null, -3.2, null,
      |     100.0, "0000", true, 1] ] }""".stripMargin.replace("\n", " ")

  test("parses typed 17-column rows with trimmed callsigns and sensor arrays") {
    val out = OpenSkyParser.parse(Seq(payload).toDS()).collect()
    assert(out.length == 3)
    val byId = out.map(r => r.getAs[String]("icao24") -> r).toMap
    val a = byId("39c4a1")
    assert(a.getAs[String]("callsign") == "AFR123")
    assert(a.getAs[Double]("latitude") == 47.16)
    assert(a.getAs[Any]("sensors") == null)
    assert(a.getAs[Boolean]("on_ground") == false)
    val b = byId("4ca7b3")
    assert(b.getAs[scala.collection.Seq[Int]]("sensors").toSeq == Seq(1, 2))
    assert(b.getAs[Boolean]("on_ground") == true)
    val c = byId("aabbcc")
    assert(c.getAs[Any]("latitude") == null)
    assert(c.getAs[Any]("time_position") == null)
    assert(c.getAs[Int]("position_source") == 1)
  }

  test("malformed slot values become null instead of failing under ANSI mode") {
    val bad =
      """{ "time": 1, "states": [
        | ["zz0001", "X", "Y", "not-a-long", 5, "oops", 47.0, null, false,
        |  null, null, null, "[1,junk]", null, "0", false, "nope"] ] }"""
        .stripMargin.replace("\n", " ")
    val r = OpenSkyParser.parse(Seq(bad).toDS()).collect().head
    assert(r.getAs[Any]("time_position") == null) // "not-a-long"
    assert(r.getAs[Any]("longitude") == null)     // "oops"
    assert(r.getAs[Double]("latitude") == 47.0)   // valid slot still parses
    assert(r.getAs[Any]("position_source") == null)
    val sensors = r.getAs[scala.collection.Seq[Any]]("sensors")
    assert(sensors != null && sensors(0) == 1 && sensors(1) == null)
  }

  test("states:null and states:[] produce empty output, not a crash") {
    val empties = Seq("""{"time": 1, "states": null}""", """{"time": 1, "states": []}""")
    assert(OpenSkyParser.parse(empties.toDS()).count() == 0)
  }

  test("null-position rows are excluded from the noise-usable set") {
    val usable = graft.noise.Noise.classifySource(OpenSkyParser.parse(Seq(payload).toDS()))
    assert(usable.count() == 2)
  }

  test("end-to-end: fixture ingest feeds classification and ground noise") {
    val sources = graft.noise.Noise.classifySource(OpenSkyParser.parse(Seq(payload).toDS()))
    val rows = sources.orderBy("s_lat").collect()
    // 47.14 on_ground -> 80 dB @27m; 47.16 climbing (4.2 m/s) -> 130 dB
    assert(rows(0).getDouble(2) == 80.0 && rows(0).getDouble(3) == 27.0)
    assert(rows(1).getDouble(2) == 130.0 && rows(1).getDouble(3) == 335.2)
    val grid = graft.noise.Noise.grid(spark, 47.1542, -1.6044, 500.0, 5)
    val noise = graft.noise.Noise.groundNoise(grid, sources)
    assert(noise.count() > 0)
    assert(noise.agg(org.apache.spark.sql.functions.max("db")).head().getDouble(0) > 0.0)
  }
}
