package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale probe for the connected-components skew posture (r14 verdict:
  * GraphSpec pins the de-skewed PHYSICAL shape — no WindowExec,
  * partial-agg'd mins — on a 100k-neighbor hub; this bench MEASURES it).
  * Two graphs with EQUAL edge count run through the same
  * [[graft.operators.Graph.connectedComponents]]:
  *
  *  - `hub`: one celebrity vertex with |E| neighbors — the power-law
  *    worst case that OOM'ed/straggled the window-based neighborhood min
  *    (the whole adjacency in one task's sort buffer).
  *  - `random`: |E| hash-scattered edges over ~|E| vertices (expected
  *    max degree O(log n / log log n) — no skew).
  *
  * The claim under measurement (SCALE.md / PERF.md): hub wall time stays
  * within ~1.5x of random at equal |E|, and the max per-task peak
  * execution memory stays flat — because the hub's adjacency only ever
  * meets map-side-combined `min` partial aggregates, never a buffer.
  *
  * Usage: SPARK_GRAFT_EDGES=100000 sbt "runMain graft.GraphScaleBench"
  */
object GraphScaleBench {

  /** Max per-task peak execution memory across all tasks while attached —
    * the UI's "peak execution memory" column, captured programmatically.
    */
  private final class PeakListener extends SparkListener {
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val v = m.peakExecutionMemory
        var cur = peak.get()
        while (v > cur && !peak.compareAndSet(cur, v)) cur = peak.get()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val nEdges = sys.env.getOrElse("SPARK_GRAFT_EDGES", "100000").toLong
    val cpus = Session.cpus
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(label: String, edges: org.apache.spark.sql.DataFrame)
        : (String, Long, Double, Int, Long, Long) = {
      val l = new PeakListener
      spark.sparkContext.addSparkListener(l)
      var rounds = 0
      val (sec, nLabels) = Bench.timeRows {
        val (labels, r) = operators.Graph.connectedComponents(edges)
        rounds = r
        labels
      }
      spark.sparkContext.removeSparkListener(l)
      val e = edges.count()
      (label, e, sec, rounds, nLabels, l.peak.get())
    }

    // one celebrity vertex, nEdges neighbors
    val hub = spark.range(1, nEdges + 1)
      .select(lit(0L).as("src"), col("id").as("dst"))
    // equal-|E| hash-scattered edges over ~nEdges vertices (self-loops and
    // the odd duplicate are filtered/deduped inside connectedComponents;
    // the reported edge count is the RAW generator count for both inputs)
    val rand = spark.range(nEdges)
      .select(pmod(xxhash64(col("id"), lit("a")), lit(nEdges)).as("src"),
        pmod(xxhash64(col("id"), lit("b")), lit(nEdges)).as("dst"))

    // random first, then hub: the hub run cannot borrow warm state
    val results = Seq(run("random", rand), run("hub", hub))
    val body = results.map { case (k, e, sec, rounds, nl, peak) =>
      f""""$k":{"edges":$e,"sec":$sec%.2f,"rounds":$rounds,"labels":$nl,"max_task_peak_mb":${peak / (1 << 20)}}"""
    }.mkString(",")
    val ratio = results(1)._3 / results(0)._3
    println(f"""{"metric":"graph_scale",$body,"hub_over_random":$ratio%.2f,"cpus":$cpus}""")
    spark.stop()
  }
}
