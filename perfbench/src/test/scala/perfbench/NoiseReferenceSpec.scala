package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.OpenSkyParser
import graft.noise.Noise

/** The plain-Scala reference the benchmark checks against must agree with
  * the program's Spark pipeline on a grid small enough to compare in full.
  */
class NoiseReferenceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val grid = NoiseReference.Grid(Noise.NantesLat, Noise.NantesLon, 1000.0, 30)

  test("grid coordinates match Noise.grid exactly") {
    val got = Noise.grid(spark, grid.lat0, grid.lon0, grid.stepM, grid.n).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val want = (for (i <- -grid.n to grid.n; j <- -grid.n to grid.n) yield (grid.lat(i), grid.lon(j))).toSet
    assert(got == want)
  }

  test("reference levels agree with groundNoise and groundNoiseBucketed within 0.01 dB") {
    Seq(3L, 11L).foreach { seed =>
      val snap = Payloads.snapshot(seed, 0, grid.box, 40)
      val parsed = OpenSkyParser.parse(spark.createDataset(Seq(snap.json))(Encoders.STRING))
      val sources = Noise.classifySource(parsed)
      assert(sources.count() == snap.usable.size)
      val g = Noise.grid(spark, grid.lat0, grid.lon0, grid.stepM, grid.n)
      val broadcast = Noise.groundNoise(g, sources).collect()
        .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val bucketed = Noise.groundNoiseBucketed(g, sources).collect()
        .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(broadcast == bucketed)
      assert(broadcast.size.toLong == NoiseReference.coverage(grid, snap.usable))
      for (i <- -grid.n to grid.n; j <- -grid.n to grid.n) {
        val cell = (grid.lat(i), grid.lon(j))
        (NoiseReference.cellDb(cell._1, cell._2, snap.usable), broadcast.get(cell)) match {
          case (Some(r), Some(d)) => assert(math.abs(r - d) <= 0.01 + 1e-9, s"cell $cell: $r vs $d")
          case (r, d) => assert(r.isEmpty && d.isEmpty, s"cell $cell: $r vs $d")
        }
      }
    }
  }
}
