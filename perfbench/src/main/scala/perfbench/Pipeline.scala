package perfbench

import org.apache.spark.sql.{DataFrame, PerfbenchInternals}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.noise.Noise

/** The program's noise layers from parsed state vectors to heatmap rows,
  * run as one lazy plan (untraced) or layer by layer (traced).
  */
object Pipeline {
  sealed abstract class Plan(val name: String)
  case object Broadcast extends Plan("broadcast")
  case object Bucketed extends Plan("bucketed")
  val Plans: Seq[Plan] = Seq(Broadcast, Bucketed)

  /** Operations alternate plans: even operations broadcast, odd bucketed. */
  def forOp(k: Long): Plan = if (k % 2 == 0) Broadcast else Bucketed

  private def ground(grid: DataFrame, sources: DataFrame, plan: Plan): DataFrame = plan match {
    case Broadcast => Noise.groundNoise(grid, sources)
    case Bucketed => Noise.groundNoiseBucketed(grid, sources)
  }

  def heat(grid: DataFrame, parsed: DataFrame, plan: Plan): DataFrame =
    Noise.heatmapRows(ground(grid, Noise.classifySource(parsed), plan))

  /** Runs the layers one at a time, materialising each layer's output at its
    * boundary so that a span's time belongs to that layer alone. `sink`
    * persists the heatmap rows and returns the bytes it wrote.
    * Returns the layer counts measured on the way.
    */
  def traced(t: Tracer, op: Int, grid: DataFrame, input: => DataFrame, plan: Plan,
             sink: DataFrame => Long, storageMb: => Double): Map[String, Double] = {
    var rowsIn = 0L
    var usable = 0L
    val parsed = t.span(op, "ingest.parse") {
      val p = input.cache(); rowsIn = p.count(); p
    }
    val sources = t.span(op, "noise.classify") {
      val s = Noise.classifySource(parsed).cache(); usable = s.count(); s
    }
    val heat = t.span(op, "queries.build")(Noise.heatmapRows(ground(grid, sources, plan)))
    val qe = heat.queryExecution
    t.span(op, "catalyst.analyze")(qe.analyzed)
    t.span(op, "catalyst.optimize")(qe.optimizedPlan)
    t.span(op, "catalyst.plan")(qe.executedPlan)
    val (rows, cachedRows) = t.span(op, "noise.ground")(PerfbenchInternals.materialize(heat))
    val pairs = pairCounts(qe.executedPlan)
    val cached = storageMb
    val bytes = t.span(op, "sink.write")(sink(rows))
    cachedRows.unpersist(); sources.unpersist(); parsed.unpersist()
    Map("ingest.rows_in" -> rowsIn.toDouble,
      "ingest.usable_ratio" -> (if (rowsIn == 0) 0.0 else usable.toDouble / rowsIn),
      "sink.bytes" -> bytes.toDouble,
      "cache.storage_mb" -> cached) ++ pairs.toSeq.flatMap { case (considered, inRange) =>
      Seq("noise.pairs_considered" -> considered.toDouble, "noise.pairs_in_range" -> inRange.toDouble,
        "noise.pair_hit_ratio" -> (if (considered == 0) 0.0 else inRange.toDouble / considered))
    }
  }

  /** Every physical node under `p`, looking through adaptive plans and
    * query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(nodes))
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows produced by the nearest node under `p` that counts them. */
  private def inputRows(p: SparkPlan): Long = nodes(p).flatMap(rows).headOption.getOrElse(0L)

  /** (pairs considered, pairs in range) of the broadcast plan's cross join
    * of grid cells and sources, from the SQL metrics of the executed plan:
    * the join evaluates the 20 km predicate on every pair of its two inputs
    * and outputs the pairs in range. None for plans without that join (the
    * bucketed plan's equi-join reports only its output).
    */
  def pairCounts(executed: SparkPlan): Option[(Long, Long)] =
    nodes(executed).collectFirst {
      case j: BroadcastNestedLoopJoinExec if j.output.exists(_.name == "s_db") => j
    }.map { j =>
      (inputRows(j.left) * inputRows(j.right), rows(j).getOrElse(0L))
    }
}
