package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin
import graft.sink.HeatmapHtml

/** File source/sink round trips (parquet, CSV, JSON — SURVEY.md §2.2 rows
  * "Scans/sources" and "Sinks"), the HTML heatmap sink, and the salted skew
  * join.
  */
class SinksAndSkewSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("parquet, csv, json, and orc sinks round-trip the same frame") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c,quoted", 0.0))
      .toDF("id", "s", "v")
    val dir = tmp("sinks")
    df.write.mode("overwrite").parquet(s"$dir/p")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    df.write.mode("overwrite").json(s"$dir/j")
    df.write.mode("overwrite").orc(s"$dir/o")
    val p = spark.read.parquet(s"$dir/p")
    val c = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/c")
    val j = spark.read.json(s"$dir/j")
    val o = spark.read.orc(s"$dir/o")
    val want = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    def got(x: org.apache.spark.sql.DataFrame) =
      x.select(col("id").cast("long"), col("s"), col("v").cast("double"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got(p) == want)
    assert(got(c) == want)
    assert(got(j) == want)
    assert(got(o) == want)
  }

  test("HTML heatmap sink renders cells and legend") {
    val g = noise.Noise.grid(spark, 47.1542, -1.6044, 2000.0, 3)
    val s = queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001")
    // materialized in three partitions, so the write itself runs no shuffle
    val heat = noise.Noise.heatmapRows(noise.Noise.groundNoise(g, s)).repartition(3).cache()
    val rows = heat.count()
    assert(heat.rdd.getNumPartitions == 3)
    val out = tmp("heat") + "/map.html"
    // one job reads every partition at once
    val jobs = jobsOf(HeatmapHtml.write(heat, out))
    assert(jobs.size == 1, jobs.map(j => j.jobId -> j.stageInfos.map(_.numTasks)))
    assert(jobs.head.stageInfos.maxBy(_.stageId).numTasks == 3, jobs.head.stageInfos.map(_.numTasks))
    val html = Files.readString(java.nio.file.Paths.get(out))
    assert(html.contains("<div id=map>"))
    assert(html.contains("dB"))
    assert(rows > 10)
    assert("<div class=c ".r.findAllIn(html).size == rows) // one cell per row
    heat.unpersist()
  }

  test("salted join returns exactly the unsalted join's rows under skew") {
    val fact = (1L to 2000L).map(i => (i, if (i % 10 == 0) 42L else i % 7)).toDF("id", "k")
    val dim = Seq((42L, "hot"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("id", "name").orderBy("id").collect().toSeq
    val salted = SkewJoin.saltedJoin(fact, dim, col("k"), col("dk"), col("id"), 8)
      .select("id", "name").orderBy("id").collect().toSeq
    assert(salted == plain)
    assert(salted.nonEmpty)
  }
}
