package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.OpenSkyParser
import graft.noise.Noise
import perfbench.Pipeline.Plan

/** `noise_refscale`: the paper's own job at the reference's scale. One
  * operation takes one seeded snapshot of 120 aircraft through
  * `OpenSkyParser.parse` → `classifySource` → ground noise over the
  * 1,002,001-cell Nantes grid (`genCoords(Nantes, 200, 500)`) →
  * `heatmapRows` → a parquet write. Operations alternate the broadcast
  * and the bucketed plan; each snapshot is mapped once by each, so the two
  * maps of one snapshot can be compared row for row.
  */
final class RefScale(seed: Long, work: File) extends Workload {
  val name = "noise_refscale"
  val opLabel = "one snapshot mapped by one plan (plans alternate)"
  val grid = NoiseReference.Grid(Noise.NantesLat, Noise.NantesLon, 200.0, 500)
  private val AircraftPerSnapshot = 120
  private val SampleCells = 32
  // the warm-up maps a 40,401-cell grid with a handful of aircraft: the
  // same plans at a fraction of the work. Spark generates new classes for
  // the full grid, so the first map of each plan compiles them
  // (`codegen.compiles` in the traced run).
  private val warmGrid = grid.copy(n = 100)
  private val WarmAircraft = 4
  private var snapshots: IndexedSeq[Payloads.Snapshot] = IndexedSeq.empty

  private var warmSnapshot: Payloads.Snapshot = _

  def prepare(): Unit = {
    snapshots = (0 until 16).map(k => Payloads.snapshot(seed, k, grid.box, AircraftPerSnapshot))
    warmSnapshot = Payloads.snapshot(seed, -1, warmGrid.box, WarmAircraft)
  }

  private def gridDf(spark: SparkSession, g: NoiseReference.Grid): DataFrame =
    Noise.grid(spark, g.lat0, g.lon0, g.stepM, g.n)

  private def raw(spark: SparkSession, snap: Payloads.Snapshot) =
    spark.createDataset(Seq(snap.json))(Encoders.STRING)

  /** Raw payload → written heatmap rows, as one lazy plan. */
  private def mapOnce(spark: SparkSession, g: DataFrame, snap: Payloads.Snapshot, plan: Plan,
                      out: String): Unit =
    Pipeline.heat(g, OpenSkyParser.parse(raw(spark, snap)), plan)
      .write.mode("overwrite").parquet(out)

  def warmUp(spark: SparkSession): Unit = {
    val g = gridDf(spark, warmGrid)
    Pipeline.Plans.foreach { p =>
      mapOnce(spark, g, warmSnapshot, p, new File(work, s"warm_${p.name}").getPath)
    }
  }

  private def outDir(k: Int) = new File(work, s"map_$k").getPath

  def measure(spark: SparkSession, seconds: Double, traced: Boolean, tracer: Tracer): Measured = {
    val m = new Measured
    val g = gridDf(spark, grid)
    val probe = if (traced) Some(new Probe(spark)) else None
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var k = 0
    // every run maps with both plans. The traced run leaves its first pair
    // of maps (each plan's first map at full scale compiles its classes)
    // out of the layer numbers, then probes one pair, spans the next, and
    // so on, for at least one pair of each.
    while (elapsed < seconds || k < 2 || (traced && k < 6)) {
      val pair = k / 2
      val snap = snapshots(pair % snapshots.size)
      val plan = Pipeline.forOp(k)
      val spanned = traced && pair > 0 && pair % 2 == 0
      val probed = probe.filter(_ => pair % 2 == 1)
      m.attempted += 1
      try {
        val before = probed.map(_.snapshot())
        val t0 = System.nanoTime()
        if (spanned) tracer.span(k, "op") {
          tracer.span(k, s"noise.map_${plan.name}") {
            val ds = tracer.span(k, "sources.get_batch")(raw(spark, snap))
            m.perOp += plan -> Pipeline.traced(tracer, k, g, OpenSkyParser.parse(ds), plan,
              heat => { heat.write.mode("overwrite").parquet(outDir(k)); Main.dirBytes(outDir(k)) },
              probe.get.storageMb)
          }
        } else mapOnce(spark, g, snap, plan, outDir(k))
        val wall = (System.nanoTime() - t0) / 1e9
        probe.foreach { pr =>
          val jobs = pr.takeJobSpans()
          if (spanned) {
            jobs.foreach { case (s, e) => tracer.record("job", s, e) }
            m.tracedWalls += ((plan, wall))
          } else before.foreach { b =>
            m.perOp += plan -> Main.probedOp(b, pr.snapshot(), jobs, t0, t0 + (wall * 1e9).toLong)
            m.untracedWalls += ((plan, wall))
          }
        }
        check(spark, snap, k) match {
          case None => m.opWalls += ((plan, wall))
          case Some(msg) => m.fail(s"op $k (${plan.name}): $msg")
        }
      } catch {
        case NonFatal(e) => m.fail(s"op $k (${plan.name}): ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // the bucketed map of a snapshot is compared with its broadcast map
      if (plan == Pipeline.Bucketed) {
        Main.deleteTree(new File(outDir(k - 1)))
        Main.deleteTree(new File(outDir(k)))
      }
      k += 1
    }
    // throughput over the operations themselves, not the checks between them
    m.measuredSeconds = m.opWalls.map(_._2).sum
    probe.foreach(_.close())
    m
  }

  /** Output checks, outside the timers: a map must hold exactly the cells
    * within 20 km of a usable source and agree with the plain-Scala
    * reference on a seeded sample of cells; the bucketed map of a snapshot
    * must be the same row set as its broadcast map.
    */
  private def check(spark: SparkSession, snap: Payloads.Snapshot, k: Int): Option[String] = {
    val usable = snap.usable
    val expectedCells = NoiseReference.coverage(grid, usable)
    val rnd = new java.util.SplittableRandom(seed * 31 + k)
    val cells = (0 until SampleCells).map { c =>
      if (c % 2 == 0 && usable.nonEmpty) {
        val a = usable(rnd.nextInt(usable.size))
        val i = math.round((a.lat - grid.lat0) / grid.dLat).toInt + rnd.nextInt(-60, 61)
        val j = math.round((a.lon - grid.lon0) / grid.dLon).toInt + rnd.nextInt(-60, 61)
        (math.max(-grid.n, math.min(grid.n, i)), math.max(-grid.n, math.min(grid.n, j)))
      } else (rnd.nextInt(-grid.n, grid.n + 1), rnd.nextInt(-grid.n, grid.n + 1))
    }.distinct.map { case (i, j) => (grid.lat(i), grid.lon(j)) }
    val (sig, got) = signature(spark, outDir(k), cells)
    signatures(k) = sig
    if (sig._1 != expectedCells) return Some(s"map has ${sig._1} cells, reference has $expectedCells")
    if (k % 2 == 1) signatures.get(k - 1).foreach { other =>
      if (other != sig) return Some(s"broadcast and bucketed maps differ: $other vs $sig")
    }
    cells.iterator.flatMap { cell =>
      val ref = NoiseReference.cellDb(cell._1, cell._2, usable)
      (ref, got.get(cell)) match {
        case (None, None) => None
        case (Some(r), Some(d)) if math.abs(r - d) <= 0.01 + 1e-9 => None
        case (r, d) => Some(s"cell $cell: reference $r, map $d")
      }
    }.nextOption()
  }

  private val signatures = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]

  /** Order-independent row-set signature of a written map (row count, xor
    * and modular sum of row hashes), and the levels of the `cells` it holds,
    * read in one pass.
    */
  private def signature(spark: SparkSession, path: String, cells: Seq[(Double, Double)])
      : ((Long, Long, Long), Map[(Double, Double), Double]) = {
    val h = xxhash64(col("g_lat"), col("g_lon"), col("db"), col("intensity"))
    val sampled = struct(col("g_lat"), col("g_lon"))
      .isin(cells.map { case (a, b) => struct(lit(a), lit(b)) }: _*)
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L))),
        collect_list(when(sampled, struct(col("g_lat"), col("g_lon"), col("db"))))).head()
    val sig = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
    val got = r.getSeq[org.apache.spark.sql.Row](3)
      .map(c => (c.getDouble(0), c.getDouble(1)) -> c.getDouble(2)).toMap
    (sig, got)
  }
}
