package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.noise.Noise
import graft.sink.HeatmapHtml

/** `noise_stream`: one seeded snapshot of 120 aircraft per micro-batch,
  * replayed through `OpenSkyStreamProvider` (one snapshot per trigger,
  * triggers back to back). `foreachBatch` runs `classifySource` → ground
  * noise over a cached 40,401-cell grid (500 m step, n = 100) →
  * `heatmapRows` → `HeatmapHtml.write`; batches alternate `groundNoise`
  * (broadcast) and `groundNoiseBucketed`. An operation is one micro-batch;
  * its wall time runs from the end of the previous batch's sink to the end
  * of its own, so it includes the engine's per-trigger work.
  */
final class NoiseStream(seed: Long, work: File) extends Workload {
  val name = "noise_stream"
  val opLabel = "micro-batch of one snapshot"
  val grid = NoiseReference.Grid(Noise.NantesLat, Noise.NantesLon, 500.0, 100)
  private val AircraftPerSnapshot = 120
  private val Snapshots = 120
  private val WarmSnapshots = 1
  private val snapDir = new File(work, "snapshots")
  private var snaps: IndexedSeq[Payloads.Snapshot] = IndexedSeq.empty
  private var gridDf: DataFrame = _
  private var streams = 0

  private def snapPath(i: Int) = new File(snapDir, f"s_$i%05d.json").getPath

  def prepare(): Unit = {
    snapDir.mkdirs()
    snaps = (0 until Snapshots + WarmSnapshots).map { i =>
      val s = Payloads.snapshot(seed, i, grid.box, AircraftPerSnapshot)
      Files.writeString(new File(snapPath(i)).toPath, s.json)
      s
    }
  }

  private def start(spark: SparkSession, paths: Seq[String], trigger: Trigger)
                   (fn: (DataFrame, Long) => Unit) = {
    streams += 1
    spark.readStream.format("graft.sources.OpenSkyStreamProvider")
      .option("paths", paths.mkString(",")).load()
      .writeStream.trigger(trigger)
      .option("checkpointLocation", new File(work, s"checkpoint_$streams").getPath)
      .foreachBatch(fn)
      .start()
  }

  private def htmlPath(prefix: String, id: Long) = new File(work, s"${prefix}_$id.html").getPath

  def warmUp(spark: SparkSession): Unit = {
    gridDf = Noise.grid(spark, grid.lat0, grid.lon0, grid.stepM, grid.n).cache()
    gridDf.count()
    val warm = (Snapshots until Snapshots + WarmSnapshots).map(snapPath)
    // the bucketed plan runs every layer the broadcast plan does and more;
    // the broadcast plan's classes are compiled by batch 0, which is not timed
    val q = start(spark, warm, Trigger.AvailableNow()) { (batch, id) =>
      HeatmapHtml.write(Pipeline.heat(gridDf, batch, Pipeline.Bucketed), htmlPath("warm", id))
    }
    q.awaitTermination()
  }

  def measure(spark: SparkSession, seconds: Double, traced: Boolean, tracer: Tracer): Measured = {
    val m = new Measured
    val probe = if (traced) Some(new Probe(spark)) else None
    val progress = mutable.Map.empty[Long, Map[String, Long]]
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized {
          progress(e.progress.batchId) =
            e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        }
    }
    if (traced) spark.streams.addListener(progressListener)

    val ends = mutable.ArrayBuffer.empty[(Long, Long)] // (batch id, end of sink)
    val bodyStart = mutable.Map.empty[Long, Long]
    val roots = mutable.Map.empty[Long, Int]
    val spannedOps = mutable.Set.empty[Long]
    @volatile var done = false
    var counters: Option[Counters] = None
    var lastEnd = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    val query = start(spark, (0 until Snapshots).map(snapPath), Trigger.ProcessingTime(0L)) { (batch, id) =>
      if (!done && elapsed >= seconds) done = true
      if (!done) {
        val k = id.toInt
        bodyStart(id) = System.nanoTime()
        m.attempted += 1
        val html = htmlPath("batch", id)
        val plan = Pipeline.forOp(id)
        try {
          if (roots.contains(id))
            m.perOp += plan -> Pipeline.traced(tracer, k, gridDf, batch, plan,
              heat => { HeatmapHtml.write(heat, html); new File(html).length }, probe.get.storageMb)
          else HeatmapHtml.write(Pipeline.heat(gridDf, batch, plan), html)
        } catch {
          case NonFatal(e) => m.fail(s"batch $id: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val end = System.nanoTime()
        roots.get(id).foreach { r => tracer.end(r); spannedOps += id }
        probe.foreach { p =>
          if (!roots.contains(id) && id > 0) {
            val after = p.snapshot()
            m.perOp += plan -> Main.probedOp(counters.get, after, p.takeJobSpans(), lastEnd, end)
            m.untracedWalls += ((plan, (end - lastEnd) / 1e9))
          } else if (roots.contains(id)) {
            p.takeJobSpans().foreach { case (s, e) => tracer.record("job", s, e) }
            m.tracedWalls += ((plan, (end - lastEnd) / 1e9))
          }
          // the next operation starts now; it is traced in the second half
          if (traced && elapsed >= seconds / 2) roots(id + 1) = tracer.begin(k + 1, "op")
          else counters = Some(p.snapshot())
        }
        ends += ((id, end))
        lastEnd = end
        if (ends.size == Snapshots) done = true
      }
    }
    while (!done && query.isActive) Thread.sleep(10)
    query.stop()
    query.exception.foreach(e => m.fail(s"stream stopped: ${e.getMessage}"))
    // a root opened for a batch that never ran is dropped
    roots.keys.filterNot(spannedOps).foreach(id => if (bodyStart.get(id).isEmpty) roots.remove(id))

    if (traced) {
      spark.streams.removeListener(progressListener)
      addEngineSpans(tracer, ends.toSeq, bodyStart, roots, progress.synchronized(progress.toMap))
    }
    probe.foreach(_.close())

    // checks, outside the timers
    val failedIds = mutable.Set.empty[Long]
    ends.foreach { case (id, _) =>
      val html = new File(htmlPath("batch", id))
      val problem =
        if (!html.exists) Some("no page written")
        else checkPage(Files.readString(html.toPath), snaps(id.toInt).usable, seed * 31 + id)
      problem.foreach { msg => failedIds += id; m.fail(s"batch $id: $msg") }
      html.delete()
    }
    ends.iterator.zip(ends.iterator.drop(1)).foreach { case ((_, a), (id, b)) =>
      if (!failedIds(id)) m.opWalls += ((Pipeline.forOp(id), (b - a) / 1e9))
    }
    m.measuredSeconds = if (ends.size > 1) (ends.last._2 - ends.head._2) / 1e9 else 0.0
    if (m.opWalls.nonEmpty) {
      val all = m.opWalls.map(_._2).toSeq
      m.summary("batch_p50_s") = (Stats.median(all), "s", all.size)
      Stats.tail(all) match {
        case Some((p, v)) => m.summary(f"batch_tail_s (p$p%.1f)") = (v, "s", all.size)
        case None => m.summary("batch_tail_s (none: needs 11 batches)") = (Double.NaN, "s", all.size)
      }
    }
    m
  }

  private val CellDiv = "<div class=c style='left:([0-9.]+)px;top:([0-9.]+)px;[^']*' title='([-0-9.]+) dB'>".r
  private val BBox = "bbox: \\[([^,]+), ([^\\]]+)\\] – \\[([^,]+), ([^\\]]+)\\]".r

  /** A batch's page must carry one cell per grid cell within 20 km of a
    * usable aircraft, and a seeded sample of 16 grid cells must show the
    * plain-Scala reference's level within 0.01 dB, or be absent when no
    * aircraft is in range. Cells are found by the position the page gives
    * them: `HeatmapHtml` scales (lat, lon) into its bounding box.
    */
  private def checkPage(page: String, usable: Seq[Payloads.Aircraft], sampleSeed: Long): Option[String] = {
    val levels = CellDiv.findAllMatchIn(page).map(c => (c.group(1), c.group(2)) -> c.group(3).toDouble).toMap
    val expected = NoiseReference.coverage(grid, usable)
    if (levels.size != expected) return Some(s"page has ${levels.size} cells, reference has $expected")
    BBox.findFirstMatchIn(page).map(_.subgroups.map(_.toDouble)) match {
      case Some(Seq(laMin, loMin, laMax, loMax)) =>
        def x(lon: Double) = (lon - loMin) / math.max(loMax - loMin, 1e-9) * (900.0 - 10)
        def y(lat: Double) = (1.0 - (lat - laMin) / math.max(laMax - laMin, 1e-9)) * (700.0 - 10)
        val rnd = new java.util.SplittableRandom(sampleSeed)
        (0 until 16).iterator.flatMap { _ =>
          val (lat, lon) = (grid.lat(rnd.nextInt(-grid.n, grid.n + 1)), grid.lon(rnd.nextInt(-grid.n, grid.n + 1)))
          val ref = NoiseReference.cellDb(lat, lon, usable)
          (ref, levels.get((f"${x(lon)}%.1f", f"${y(lat)}%.1f"))) match {
            case (None, None) => None
            case (Some(r), Some(d)) if math.abs(r - d) <= 0.01 + 1e-9 => None
            case (r, d) => Some(s"cell ($lat, $lon): reference $r, page $d")
          }
        }.nextOption()
      case _ => if (expected == 0) None else Some("page has no bounding box")
    }
  }

  /** The engine's own per-trigger phases, from the progress durations, laid
    * out in execution order between the previous batch's sink and this
    * batch's `foreachBatch` body: the previous batch's offset commit, then
    * this batch's offset and batch fetch, its write-ahead log commit and its
    * query planning.
    */
  private def addEngineSpans(t: Tracer, ends: Seq[(Long, Long)], bodyStart: mutable.Map[Long, Long],
                             roots: mutable.Map[Long, Int], progress: Map[Long, Map[String, Long]]): Unit = {
    val endOf = ends.toMap
    roots.foreach { case (id, root) =>
      (endOf.get(id - 1), bodyStart.get(id)) match {
        case (Some(from), Some(until)) =>
          val prev = progress.getOrElse(id - 1, Map.empty)
          val cur = progress.getOrElse(id, Map.empty)
          def ms(d: Map[String, Long], keys: String*) = keys.map(d.getOrElse(_, 0L)).sum * 1000000L
          var at = from
          Seq("streaming.commit" -> ms(prev, "commitOffsets"),
            "sources.get_batch" -> ms(cur, "latestOffset", "getBatch"),
            "streaming.commit" -> ms(cur, "walCommit"),
            "catalyst.plan" -> ms(cur, "queryPlanning")).foreach { case (n, d) =>
            val e = math.min(until, at + d)
            if (e > at) t.add(id.toInt, n, root, at, e)
            at = e
          }
        case _ =>
      }
    }
  }
}
