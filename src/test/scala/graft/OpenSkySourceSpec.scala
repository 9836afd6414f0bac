package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSv2 source tests: schema, values vs the OpenSkyParser on the same
  * payload, bbox filter pushdown (visible in the physical plan and applied
  * source-side), and column pruning.
  */
class OpenSkySourceSpec extends SparkTestBase {
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
      |    ["ffeedd", "FAR01   ", "Spain", 1757059100, 1757059101,
      |     2.5000, 40.0000, 100.0, false, 10.0, 0.0, 0.0, null,
      |     120.0, "2000", false, 0] ] }""".stripMargin.replace("\n", " ")

  private def src = spark.read
    .format("graft.sources.OpenSkyTableProvider")
    .option("payload", payload)
    .load()

  // slots the two typing paths once disagreed on: "[]" sensors, "1"/"t"
  // booleans, space-padded numbers, a tab before a callsign's padding
  private val edgeRow =
    """["aa0001", "EDG01\t  ", "Nowhere", " 1757059100", "1757059101",
      | -1.6, " 47.15", "1e3", "1", "NaN", 90, "x", "[]",
      | "", 7000, "t", " 5"]""".stripMargin.replace("\n", " ")

  test("reads the typed 17-column schema with parser-identical values") {
    val withEdge = payload.replace("] ] }", s"], $edgeRow ] }")
    def rows(df: DataFrame): Seq[String] =
      df.orderBy("icao24").collect().map(_.toString).toSeq
    val viaSource = rows(spark.read.format("graft.sources.OpenSkyTableProvider")
      .option("payload", withEdge).load())
    val viaParser = rows(ingest.OpenSkyParser.parse(Seq(withEdge).toDS()))
    assert(viaSource.size == 4)
    assert(viaSource == viaParser)
    assert(viaSource(2) ==
      "[aa0001,EDG01\t,Nowhere,1757059100,1757059101,-1.6,47.15,1000.0,true," +
        "NaN,90.0,null,ArraySeq(),null,7000,true,5]")
    assert(src.schema == graft.sources.OpenSkySnapshot.schema)
  }

  test("bbox filters push into the source scan") {
    val boxed = src.filter($"latitude" > 47.0 && $"latitude" < 48.0 &&
      $"longitude" > -2.0 && $"longitude" < 0.0)
    val plan = boxed.queryExecution.executedPlan.toString
    // bbox predicates consumed by the source: only null-checks remain in the
    // residual Filter, and the scan description reports them as pushed
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(latitude,47.0)"), plan)
    // the residual Filter above the scan must not re-apply the bbox bounds
    assert(!plan.split("BatchScan").head.contains("47.0"), plan)
    assert(boxed.select("icao24").as[String].collect().sorted.toSeq ==
      Seq("39c4a1", "4ca7b3")) // Spain row filtered source-side

    // a pushed bound keeps exactly the rows Spark's own Filter keeps: a
    // "NaN" slot try-casts to NaN, which orders above every double, and a
    // null coordinate passes no bound
    def odd(id: String, lon: String, lat: String) =
      s"""["$id", "ODD", "X", 1, 1, $lon, $lat, 1.0, false, 1.0, 1.0, 1.0,
         | null, 1.0, "1", false, 0]""".stripMargin.replace("\n", " ")
    val withOdd = payload.replace("] ] }", Seq(
      odd("aa0001", "\"NaN\"", "\"NaN\""), odd("aa0002", "-1.6", "\"NaN\""),
      odd("aa0003", "\"NaN\"", "47.1"), odd("aa0004", "null", "null"))
      .mkString("], ", ", ", " ] }"))
    val viaSource = spark.read.format("graft.sources.OpenSkyTableProvider")
      .option("payload", withOdd).load()
    val viaParser = ingest.OpenSkyParser.parse(Seq(withOdd).toDS())
    for ((c, v) <- Seq("latitude" -> 40.0, "longitude" -> -1.58);
         (shape, f) <- Seq[(String, Column => Column)](
           "GreaterThan" -> (_ > v), "GreaterThanOrEqual" -> (_ >= v),
           "LessThan" -> (_ < v), "LessThanOrEqual" -> (_ <= v))) {
      def ids(df: DataFrame): Seq[String] =
        df.filter(f(col(c))).select("icao24").as[String].collect().sorted.toSeq
      val plan = viaSource.filter(f(col(c))).queryExecution.executedPlan.toString
      assert(plan.contains(s"PushedFilters: [$shape($c,$v)"), plan)
      assert(ids(viaSource) == ids(viaParser), s"$shape($c,$v)")
    }
  }

  test("column pruning reaches the scan") {
    val pruned = src.select("icao24")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<icao24:string>"), plan)
    assert(plan.contains("BatchScan opensky_snapshot[icao24#"), plan)
    assert(pruned.count() == 3)
  }

  test("empty and null states produce an empty frame") {
    val empty = spark.read.format("graft.sources.OpenSkyTableProvider")
      .option("payload", """{"time": 1, "states": null}""").load()
    assert(empty.count() == 0)
  }
}
