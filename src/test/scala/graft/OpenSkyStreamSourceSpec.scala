package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The DSv2 MicroBatchStream source must replay snapshot files one per
  * trigger and feed a streaming aggregation with the typed schema.
  */
class OpenSkyStreamSourceSpec extends SparkTestBase {

  private def snapshot(country: String, n: Int): String = {
    val states = (0 until n).map { i =>
      s"""["ab${i}c$i", "CS$i  ", "$country", 1757059190, 1757059195,
         | -1.61, 47.16, 300.0, false, 80.0, 180.0, 0.0, null,
         | 300.0, "1000", false, 0]""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""{ "time": 1757059200, "states": [ $states ] }"""
  }

  test("replays snapshots as micro-batches into a streaming aggregation") {
    val dir = Files.createTempDirectory("snaps")
    Files.writeString(Paths.get(dir.toString, "s0.json"), snapshot("France", 2))
    Files.writeString(Paths.get(dir.toString, "s1.json"), snapshot("Ireland", 3))
    // the alias the benchmark loads, and the one class behind it
    for ((format, sink) <- Seq(
        "graft.sources.OpenSkyStreamProvider" -> "opensky_stream_test",
        "graft.sources.OpenSkyTableProvider" -> "opensky_table_stream_test")) {
      val stream = spark.readStream
        .format(format)
        .option("paths", s"$dir/s0.json,$dir/s1.json")
        .load()
      assert(stream.schema == sources.OpenSkySnapshot.schema)
      val q = stream.groupBy("origin_country").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val rows = spark.table(sink)
          .orderBy("origin_country").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows == Seq(("France", 2L), ("Ireland", 3L)), format)
        // one snapshot per trigger: at least two batches ran
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2, q.recentProgress.toSeq.map(_.numInputRows))
      } finally q.stop()
    }
  }

  test("Trigger.AvailableNow drains every snapshot in one run, then stops") {
    val dir = Files.createTempDirectory("snaps_avnow")
    Files.writeString(Paths.get(dir.toString, "s0.json"), snapshot("France", 2))
    Files.writeString(Paths.get(dir.toString, "s1.json"), snapshot("Ireland", 3))
    Files.writeString(Paths.get(dir.toString, "s2.json"), snapshot("Spain", 1))
    val q = spark.readStream
      .format("graft.sources.OpenSkyStreamProvider")
      .option("paths", s"$dir/s0.json,$dir/s1.json,$dir/s2.json")
      .load()
      .groupBy("origin_country").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("opensky_avnow")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow terminates on its own once the drain target is reached
    assert(q.awaitTermination(60000), "AvailableNow run did not terminate")
    val rows = spark.table("opensky_avnow")
      .orderBy("origin_country").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("France", 2L), ("Ireland", 3L), ("Spain", 1L)), rows)
  }

  test("checkpoint recovery: offsets never regress below a replayed committed offset") {
    val dir = Files.createTempDirectory("snaps_recover")
    (0 until 3).foreach { i =>
      Files.writeString(Paths.get(dir.toString, s"s$i.json"), snapshot(s"C$i", 1))
    }
    val paths = (0 until 3).map(i => s"$dir/s$i.json").mkString(",")
    // fresh instance, as after a restart: the engine replays the
    // checkpointed offset through deserializeOffset, then passes it as the
    // `start` of the admission-control latestOffset — the next offset
    // derives from the committed position, so it can never regress
    // (the pre-fix cursor design restarted polling from zero)
    val stream = new sources.OpenSkyTable(Map("paths" -> paths))
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream(dir.toString)
      .asInstanceOf[sources.OpenSkyMicroBatchStream]
    val recovered = stream.deserializeOffset("2").asInstanceOf[sources.SnapshotOffset]
    assert(recovered.n == 2L)
    val next = stream.latestOffset(recovered,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[sources.SnapshotOffset]
    assert(next.n == 3L, s"latestOffset regressed to ${next.n} after recovery at 2")
    val parts = stream.planInputPartitions(recovered, next)
    assert(parts.length == 1)
  }

  test("restart from a real checkpoint resumes mid-log without re-delivering") {
    val dir = Files.createTempDirectory("snaps_restart")
    (0 until 4).foreach { i =>
      Files.writeString(Paths.get(dir.toString, s"s$i.json"), snapshot(s"C$i", i + 1))
    }
    val paths = (0 until 4).map(i => s"$dir/s$i.json").mkString(",")
    val checkpoint = Files.createTempDirectory("snaps_ckpt").toString
    val out = Files.createTempDirectory("snaps_out").toString
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.OpenSkyStreamProvider")
        .option("paths", paths)
        .load()
        .select("icao24", "origin_country")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "drain did not terminate")
    }
    run() // first run drains all four snapshots
    run() // second run from the same checkpoint: nothing new, nothing twice
    val rows = spark.read.parquet(out).groupBy("origin_country")
      .agg(count(lit(1)).as("n")).orderBy("origin_country").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("C0", 1L), ("C1", 2L), ("C2", 3L), ("C3", 4L)),
      s"restart re-delivered or dropped rows: $rows")
  }

  test("mode=live polls the endpoint per batch and AvailableNow stops after one poll") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import java.util.concurrent.atomic.AtomicInteger
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val polls = new AtomicInteger(0)
    def respond(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      respond(ex, """{"access_token": "t"}""")
    })
    server.createContext("/states", (ex: HttpExchange) => {
      polls.incrementAndGet()
      respond(ex, snapshot("France", 2))
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val q = spark.readStream
        .format("graft.sources.OpenSkyStreamProvider")
        .option("mode", "live")
        .option("url", s"http://127.0.0.1:$port/states")
        .option("tokenUrl", s"http://127.0.0.1:$port/token")
        .option("clientId", "cid").option("clientSecret", "s")
        .load()
        .groupBy("origin_country").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("opensky_live_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "live AvailableNow run did not terminate")
      val rows = spark.table("opensky_live_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("France", 2L)))
      assert(polls.get >= 1)
    } finally server.stop(0)
  }

  test("mode=live pushes the bbox options to the server as query params") {
    // STREAM parity with the batch source's filter pushdown
    // (OpenSkyLiveSpec): micro-batch planning has no pushdown channel, so
    // the bbox rides in as options — this pins that every live POLL carries
    // lamin/lamax/lomin/lomax on the wire instead of downloading the full
    // global state vector set and filtering downstream.
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import java.util.concurrent.atomic.AtomicReference
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val statesQuery = new AtomicReference[String]()
    def respond(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      respond(ex, """{"access_token": "t"}""")
    })
    server.createContext("/states", (ex: HttpExchange) => {
      statesQuery.set(ex.getRequestURI.getQuery)
      respond(ex, snapshot("France", 2))
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val q = spark.readStream
        .format("graft.sources.OpenSkyStreamProvider")
        .option("mode", "live")
        .option("url", s"http://127.0.0.1:$port/states")
        .option("tokenUrl", s"http://127.0.0.1:$port/token")
        .option("clientId", "cid").option("clientSecret", "s")
        .option("lamin", "47").option("lamax", "48.5")
        .option("lomin", "-2").option("lomax", "-1")
        .load()
        .groupBy("origin_country").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("opensky_live_bbox")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "live bbox run did not terminate")
      val params = statesQuery.get.split("&").toSet
      // fetch normalizes numeric forms via the toDouble round-trip
      assert(params == Set("lamin=47.0", "lamax=48.5", "lomin=-2.0", "lomax=-1.0"),
        statesQuery.get)
    } finally server.stop(0)
  }
}
