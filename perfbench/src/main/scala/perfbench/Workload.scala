package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a run measured. `opWalls` holds the plan and wall time of every
  * timed operation whose output passed its checks; `perOp` the per-layer
  * numbers of each traced or probed operation; `summary` extra named
  * figures for the readable report.
  */
final class Measured {
  val opWalls = ArrayBuffer.empty[(Pipeline.Plan, Double)]
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  val perOp = ArrayBuffer.empty[(Pipeline.Plan, Map[String, Double])]
  val untracedWalls = ArrayBuffer.empty[(Pipeline.Plan, Double)]
  val tracedWalls = ArrayBuffer.empty[(Pipeline.Plan, Double)]
  val summary = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  var measuredSeconds = 0.0
  var rssPeakMb = 0.0

  def fail(msg: String): Unit = { failed += 1; if (failures.size < 20) failures += msg }

  def walls(plan: Pipeline.Plan): Seq[Double] = opWalls.collect { case (`plan`, w) => w }.toSeq

  /** Median traced wall over median probed wall, minus one, per plan,
    * weighted by the probed medians; 0 when a side has no operations.
    */
  def tracingOverhead: Double = {
    val pairs = Pipeline.Plans.flatMap { p =>
      val u = untracedWalls.collect { case (`p`, w) => w }
      val t = tracedWalls.collect { case (`p`, w) => w }
      if (u.isEmpty || t.isEmpty) None else Some((Stats.median(t.toSeq), Stats.median(u.toSeq)))
    }
    if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1
  }
}

/** A named benchmark workload. One client drives it in a closed loop: the
  * next operation starts when the previous one has completed.
  */
trait Workload {
  def name: String
  /** Generates the inputs from the seed; runs before the set-up clock. */
  def prepare(): Unit
  /** Work done once per fresh session before measuring: fills the JIT, the
    * codegen class cache and any cached input. Counted in set-up time.
    */
  def warmUp(spark: SparkSession): Unit
  /** Runs operations for `seconds`, checking each one's output outside the
    * timers. With `traced`, the first half runs untraced under the layer
    * probe and the second half with spans.
    */
  def measure(spark: SparkSession, seconds: Double, traced: Boolean, tracer: Tracer): Measured
  /** What one operation is, for the report. */
  def opLabel: String
}
