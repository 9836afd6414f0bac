package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Dedup

/** In-flight metrics (`Dataset.observe`): the counters must ride the
  * producing job, in one pass.
  */
class ObserveSpec extends SparkTestBase {
  import spark.implicits._

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
