package graft

/** The one session builder: `SPARK_GRAFT_CONF` parsing, and the engine
  * configuration the shared test session runs.
  */
class SessionSpec extends SparkTestBase {

  test("overlay: entries trimmed, '=' allowed in values, empty segments ignored") {
    assert(Session.overlay("").isEmpty)
    assert(Session.overlay(" ; ;").isEmpty)
    assert(Session.overlay(" spark.a = 1 ;spark.b=x=y;;spark.c=;") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y", "spark.c" -> ""))
  }

  test("overlay rejects an entry without '=' or with an empty key, naming it") {
    Seq("spark.sql.adaptive.enabled:false", "=true", " = true").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Session.overlay(s"spark.a=1;$bad;spark.b=2"))
      assert(e.getMessage.contains(s"'${bad.trim}'"), e.getMessage)
    }
  }

  test("the shared test session carries the posture Bench runs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
