package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.noise.Noise
import graft.plans.BucketedRangeJoinRule

/** The optimizer rule must turn the NAIVE cross-join noise query into a
  * bucketed equi-join — identical results, no quadratic join between grid
  * and sources.
  */
class BucketedRangeJoinRuleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def naiveNoise() = Noise.groundNoise(
    Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10),
    queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001"))

  test("rewrites cross join + haversine cutoff into a cell equi-join, results unchanged") {
    val before = naiveNoise().orderBy("g_lat", "g_lon").collect()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = naiveNoise()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__cell_i"), optimized)
      val after = df.orderBy("g_lat", "g_lon").collect()
      assert(after.sameElements(before))
      // the grid-sources pairing became an equi-join on the cell key
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("__cell_i"), phys)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("with broadcasts off, the rewrite shuffles both sides into a sort-merge join on the cell key") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the rewrite carries no join hint: a source set too large to broadcast
    // takes the shuffled cell join, the one shuffled path of the noise job
    val before = naiveNoise().orderBy("g_lat", "g_lon").collect()
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = naiveNoise().orderBy("g_lat", "g_lon")
      assert(df.collect().sameElements(before))
      val plan = df.queryExecution.executedPlan
      val keys = collect(plan) { case j: SortMergeJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
      }
      assert(keys == Seq(Seq("__cell_i", "__cell_j", "__rcell_i", "__rcell_j")), plan.treeString)
    } finally {
      spark.conf.set(threshold, prior)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("rewrites with the sides swapped (sources cross grid)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    val grid = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10)
    val src = queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001")
    val cutoff = haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= RMaxM
    // the cutoff alone, and as the last conjunct after a pair predicate the
    // optimizer cannot push to either side (it stays in the join condition)
    val conditions = Seq(cutoff, col("g_lat") <= col("s_lat") && cutoff)
    def swapped(cond: org.apache.spark.sql.Column) = src.crossJoin(grid)
      .filter(cond)
      .groupBy("g_lat", "g_lon").agg(count(lit(1)).as("n"))
    val before = conditions.map(swapped(_).orderBy("g_lat", "g_lon").collect())
    assert(before(1).nonEmpty && before(1).length < before(0).length)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      conditions.zip(before).foreach { case (cond, expected) =>
        val df = swapped(cond)
        assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
        assert(df.orderBy("g_lat", "g_lon").collect().sameElements(expected))
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("keeps full recall at high latitudes and across the antimeridian") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    import spark.implicits._
    // at lat 78°, 20 km of longitude spans ~0.86° — more than a flat
    // 0.36° cell, so a flat 3x3 neighborhood loses these pairs; the seam
    // pair wraps at ±180 where plain lon cells can never match; lat 100°
    // is 80° over the pole, 1.93 km from (80°, 179.9°) by the haversine but
    // in band 277 against 222, so only the |lat| <= 90 guard's exact branch
    // keeps that pair
    val ptsA = Seq(
      (1L, 78.0, 16.00), (2L, 78.0, 100.0),       // polar probe
      (3L, 0.0, 179.95), (4L, 50.0, 10.0),        // seam probe + control
      (5L, 100.0, 0.0))                           // invalid latitude
      .toDF("id_a", "g_lat", "g_lon")
    val ptsB = Seq(
      (11L, 78.01, 16.80),                        // 17 km from (1): |Δlon| = 0.8°
      (13L, 0.0, -179.95),                        // 11 km from (3), wrapped
      (14L, 50.001, 10.001),                      // 0.1 km from (4)
      (15L, 80.0, 179.9))                         // 1.93 km from (5)
      .toDF("id_b", "s_lat", "s_lon")
    def pairs() = ptsA.crossJoin(ptsB)
      .filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= RMaxM)
      .select("id_a", "id_b")
    val before = pairs().orderBy("id_a", "id_b").collect().toSeq
    assert(before.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 11L), (3L, 13L), (4L, 14L), (5L, 15L)), before)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = pairs()
      assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(df.orderBy("id_a", "id_b").collect().toSeq == before)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("keeps a max-radius pair at lat 60 that planar cells would drop") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    import spark.implicits._
    // Both points sit at lat 60, 499.77 km apart — inside the 500 km
    // MaxRadiusM. Their Δlon = 8.996° exceeds the planar cell 2·rDeg =
    // 8.9932°, and lonA is planted 0.001° below a planar cell boundary, so
    // flat floor(lon/2·rDeg) cells put the pair TWO cells apart
    // (floor(8.9922/8.9932)=0, floor(17.9882/8.9932)=2) and a 3x3
    // neighborhood silently drops it. At r = 500 km, lat 60 is band 6,
    // whose ring has 24 cells of 15°: the pair sits in ring cells 12 and 13.
    val ptsA = Seq((1L, 60.0, 8.9922)).toDF("id_a", "g_lat", "g_lon")
    val ptsB = Seq((11L, 60.0, 17.9882)).toDF("id_b", "s_lat", "s_lon")
    def pairs() = ptsA.crossJoin(ptsB)
      .filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= 500000.0)
      .select("id_a", "id_b")
    assert(pairs().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = pairs()
      assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("groundNoiseBucketed matches groundNoise at the poles, across the " +
    "antimeridian, and at mid latitudes (per-band ring bucketing)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def check(grid: org.apache.spark.sql.DataFrame,
        src: org.apache.spark.sql.DataFrame): Unit = {
      val a = Noise.groundNoise(grid, src).orderBy("g_lat", "g_lon").collect()
      val b = Noise.groundNoiseBucketed(grid, src)
        .orderBy("g_lat", "g_lon").collect()
      assert(a.nonEmpty, "probe must produce within-radius pairs")
      assert(a.sameElements(b),
        s"bucketed diverged: exact=${a.toSeq} bucketed=${b.toSeq}")
    }
    // polar: at lat 78° the 20 km longitude reach (~0.86°) exceeds the flat
    // 0.36° cell that used to force the raise; the per-band ring covers it
    check(
      Seq((78.0, 16.0), (78.01, 16.8), (78.0, 100.0)).toDF("g_lat", "g_lon"),
      Seq((78.005, 16.4, 110.0, 300.0), (78.0, 99.9, 90.0, 300.0))
        .toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // pole cap: the ring degenerates to one cell; pairs must still match
    check(
      Seq((89.95, 0.0), (89.95, 179.0)).toDF("g_lat", "g_lon"),
      Seq((89.99, -90.0, 130.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // antimeridian: ring indices wrap, so the seam pair shares a bucket
    check(
      Seq((10.0, 179.95), (10.0, 179.0)).toDF("g_lat", "g_lon"),
      Seq((10.0, -179.95, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // a grid centred near the antimeridian (Matei, Taveuni, Fiji): `grid`
    // does not wrap, so g_lon spans -180.065..-179.689; the ring index must
    // wrap those cells, or the bucketed plan drops their pairs (853 of the
    // 1,127 cells survived before the ring index wrapped)
    check(
      Noise.grid(spark, -16.69, -179.877, 1000.0, 20),
      Seq((-16.69, -179.95, 130.0, 300.0), (-16.70, 179.98, 110.0, 300.0))
        .toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // mid-latitude control (the q19/q20 regime)
    check(
      Seq((59.0, 10.0), (59.01, 10.0)).toDF("g_lat", "g_lon"),
      Seq((59.0, 10.0, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // a 1-cell ring must not DUPLICATE pairs into the power sum: one
    // source near the pole contributes once (array_distinct neighbors) —
    // sameElements above already proves it, since duplication would
    // inflate db; probe the south cap too for the negative-band arithmetic
    check(
      Seq((-89.9, 10.0)).toDF("g_lat", "g_lon"),
      Seq((-89.95, -170.0, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
  }

  test("does not fire on joins without a haversine range predicate") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val d = queries.Registry.all.find(_.name == "q03_segment_revenue").get
        .run(spark, "/root/testdata/sf0.001")
      assert(!d.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(d.count() > 0)
      // the hand-bucketed cell join carries the haversine cutoff among its
      // conjuncts, but it is already an equi-join
      import spark.implicits._
      val b = Noise.groundNoiseBucketed(
        Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10),
        Seq((Noise.NantesLat, Noise.NantesLon, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
      assert(!b.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(b.count() > 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }
}
