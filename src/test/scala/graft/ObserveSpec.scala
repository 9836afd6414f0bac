package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Dedup, Observe}

/** In-flight quality metrics: the counters must ride the producing job (one
  * pass) and report exact violation counts.
  */
class ObserveSpec extends SparkTestBase {
  import spark.implicits._

  test("withQualityMetrics reports nulls and negatives from the producing action") {
    val df = Seq(
      (Some(1L), 2.0), (None, 3.0), (Some(3L), -1.0),
      (None, -4.0), (Some(5L), 0.0))
      .toDF("user_id", "value")
    val obs = new Observation("quality")
    val observed = Observe.withQualityMetrics(df, obs,
      notNull = Seq("user_id"), nonNegative = Seq("value"))
    // one action; metrics resolve from it — no extra scan
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows") == 5L)
    assert(m("null_user_id") == 2L)
    assert(m("neg_value") == 2L)
  }

  test("metrics survive a downstream filter without a second pass") {
    val df = spark.range(100).select(col("id"),
      when(col("id") % 10 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") - 50.0).as("v"))
    val obs = new Observation("q2")
    val out = Observe.withQualityMetrics(df, obs,
      notNull = Seq("v"), nonNegative = Seq("v"))
      .filter(col("id") < 1000) // arbitrary downstream work
    assert(out.count() == 100)
    val m = obs.get
    assert(m("n_rows") == 100L)
    assert(m("null_v") == 10L)
    // negatives among non-null: ids 1..49 minus the null slots 10/20/30/40
    assert(m("neg_v") == 45L)
  }

  test("Bench.timeRows evaluates the whole output in one job and observes its row count") {
    // an RDD, not a local Seq: the optimizer would fold a local relation's
    // projections into the relation and leave no plan to check
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over a lazy dog"),
      (3L, "pack my box with five dozen liquor jugs"),
      (4L, "two words"), // under shingleK words: filtered out
      (5L, "sphinx of black quartz judge my vow")), 2).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, shingleK = 3)
    val runs = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    var rows = -1L
    // jobsOf's fence also orders the listener's call before the asserts
    val jobs = try jobsOf { rows = Bench.timeRows(sigs)._2 }
      finally spark.listenerManager.unregister(listener)
    assert(rows == sigs.count())
    assert(jobs.size == 1)
    // a count() would prune the signatures away: Project [] over the scan
    val plans = runs.asScala.toSeq.map(_.executedPlan.toString)
    assert(plans.size == 1)
    assert(plans.head.contains("minhash_family"), plans.head)
  }
}
