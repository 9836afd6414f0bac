package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <noise_refscale|noise_stream> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> [--cpus <n>] [--commit <id>] [--digest <hex>]
  * }}}
  *
  * Generates the workload's inputs from the seed, sets up a session several
  * times (the median is `setup_s`), measures operations for `--seconds`,
  * checks every output, and prints one JSON result as its last stdout line:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Lines before it, prefixed `#`, are the readable report.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, not $other")
    }
    val work = new File(need("work"))
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val workload: Workload = need("workload") match {
      case "noise_refscale" => new RefScale(seed, work)
      case "noise_stream" => new NoiseStream(seed, work)
      case other => usage(s"unknown workload $other")
    }
    work.mkdirs()
    val loadStart = Stats.loadavg()
    val runStart = System.nanoTime()
    workload.prepare()
    val prepared = System.nanoTime()
    var spark: SparkSession = null
    val sessionStarts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (1 to SetupRounds).map { round =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      sessionStarts += (System.nanoTime() - t0) / 1e9
      workload.warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer
    val measureStart = System.nanoTime()
    val m = workload.measure(spark, seconds, traced, tracer)
    val measureEnd = System.nanoTime()
    m.rssPeakMb = Stats.rssPeakMb()
    val confs = spark.conf.getAll.filter { case (k, _) => SessionConfs.contains(k) }
    val sparkVersion = spark.version
    spark.stop()
    val loadEnd = Stats.loadavg()

    val ok = m.opWalls.size
    def p50(p: Pipeline.Plan) = { val w = m.walls(p); if (w.isEmpty) Double.NaN else Stats.median(w) }
    val opsPerS = if (m.measuredSeconds > 0) ok / m.measuredSeconds else 0.0
    val e2e = Seq(
      ("broadcast_op_s", p50(Pipeline.Broadcast), "s"),
      ("bucketed_op_s", p50(Pipeline.Bucketed), "s"),
      ("ops_per_s", opsPerS, "1/s"),
      ("setup_s", Stats.median(setups), "s"))

    val out = new StringBuilder
    def say(s: String): Unit = out.append("# ").append(s).append('\n')
    say(s"workload ${workload.name} seed $seed seconds $seconds trace ${if (traced) 1 else 0}")
    say(f"operation = ${workload.opLabel}; ${m.attempted} attempted, ${m.failed} failed, " +
      f"error_rate ${if (m.attempted == 0) 0.0 else m.failed.toDouble / m.attempted}%.4f")
    e2e.foreach { case (n, v, u) => say(f"$n%-22s $v%12.4f $u%-4s n=${sampleCount(n, m)}") }
    m.summary.foreach { case (n, (v, u, n2)) => say(f"$n%-22s $v%12.4f $u%-4s n=$n2") }
    say(f"rss_peak_mb            ${m.rssPeakMb}%12.4f MB   (per-layer metric jvm.rss_peak_mb)")
    say(f"run phases (s): prepare ${(prepared - runStart) / 1e9}%.2f, setup rounds " +
      setups.map(s => f"$s%.2f").mkString("/") + " (session start " +
      sessionStarts.map(s => f"$s%.2f").mkString("/") + ")" +
      f", measure and checks ${(measureEnd - measureStart) / 1e9}%.2f, total ${(System.nanoTime() - runStart) / 1e9}%.2f")
    m.failures.foreach(f => say(s"FAILED $f"))

    val layers = if (traced) perLayer(m, tracer) else Map.empty[String, (Double, String)]
    layers.toSeq.sortBy(_._1).foreach { case (n, (v, u)) => say(f"$n%-28s $v%14.4f $u") }

    val context =
      s"""{"commit":"${opts.getOrElse("commit", "unknown")}","source_digest":"${opts.getOrElse("digest", "unknown")}",""" +
        s""""spark_version":"$sparkVersion","cpus":$cpus,"seed":$seed,"seconds":$seconds,"trace":$traced,""" +
        s""""confs":{${confs.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
        s""""ops_attempted":${m.attempted},"ops_failed":${m.failed},"ops_timed":$ok,""" +
        s""""setup_rounds_s":[${setups.mkString(",")}],""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd"}"""
    say(s"context $context")

    val metrics = if (traced) layers.toSeq.sortBy(_._1).map { case (n, (v, u)) => (n, v, u) } else e2e
    val metricJson = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val correct = m.failed == 0 && ok > 0
    val result = s"""{"correct":$correct,"attempted":${math.max(1, m.attempted)},"failed":${m.failed},""" +
      s""""metrics":{${metricJson.mkString(",")}}}"""

    val results = new File(work.getParentFile, "results")
    results.mkdirs()
    val tag = s"${workload.name}_seed${seed}_trace${if (traced) 1 else 0}"
    Files.writeString(new File(results, s"$tag.json").toPath,
      s"""{"context":$context,"op_walls_s":[${m.opWalls.map { case (p, w) => s"[\"${p.name}\",$w]" }.mkString(",")}],"result":$result}""" + "\n")
    if (traced)
      Files.writeString(new File(results, s"$tag.spans.json").toPath,
        tracer.spans.map(Span.toJson).mkString("[\n", ",\n", "\n]\n"))
    print(out)
    println(result)
    System.out.flush()
    // Spark may leave non-daemon threads behind; the run ends here
    System.exit(0)
  }

  /** Confs recorded with every result: the ones the benchmark sets. */
  val SessionConfs = Set("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "spark.sql.session.timeZone",
    "spark.ui.enabled", "spark.driver.memory", "spark.sql.ansi.enabled")

  /** The session `graft.Bench` measures: local[N], N shuffle partitions,
    * its AQE posture, UTC, no UI. Local and warehouse directories live
    * under the run's work directory.
    */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def sampleCount(metric: String, m: Measured): String = metric match {
    case "setup_s" => SetupRounds.toString
    case "broadcast_op_s" => m.walls(Pipeline.Broadcast).size.toString
    case "bucketed_op_s" => m.walls(Pipeline.Bucketed).size.toString
    case _ => m.opWalls.size.toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.exit(2)
    throw new IllegalStateException(msg)
  }

  /** Per-layer numbers of a probed (untraced) operation: counter deltas and
    * the share of its wall time no Spark job covers.
    */
  def probedOp(before: Counters, after: Counters, jobs: Seq[(Long, Long)],
               start: Long, end: Long): Map[String, Double] = {
    val d = after - before
    val rt = Runtime.getRuntime
    Map(
      "scheduler.jobs" -> d.jobs.toDouble,
      "scheduler.stages" -> d.stages.toDouble,
      "scheduler.tasks" -> d.tasks.toDouble,
      "scheduler.driver_gap_s" -> (end - start - Span.unionLength(jobs, start, end)) / 1e9,
      "executor.run_s" -> d.runMs / 1e3,
      "executor.cpu_s" -> d.cpuNs / 1e9,
      "executor.gc_s" -> d.gcMs / 1e3,
      "shuffle.write_bytes" -> d.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> d.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> d.spill.toDouble,
      "codegen.compiles" -> d.compiles.toDouble,
      "codegen.compile_s" -> d.compileNs / 1e9,
      "jvm.heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0)
  }

  /** Units of the per-layer metrics; every traced run reports all of them. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "catalyst.analyze_s" -> "s", "catalyst.optimize_s" -> "s", "catalyst.plan_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.driver_gap_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "noise.pairs_considered" -> "count", "noise.pairs_in_range" -> "count", "noise.pair_hit_ratio" -> "ratio",
    "ingest.parse_s" -> "s", "ingest.rows_in" -> "count", "ingest.usable_ratio" -> "ratio",
    "noise.classify_s" -> "s", "noise.ground_s" -> "s",
    "sink.write_s" -> "s", "sink.bytes" -> "bytes",
    "sources.get_batch_s" -> "s", "streaming.commit_s" -> "s",
    "cache.storage_mb" -> "MB", "jvm.heap_used_mb" -> "MB", "jvm.rss_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.untraced_gap_s" -> "s",
    "trace.unaccounted_s" -> "s")

  /** Span names whose per-operation duration is a layer time metric. */
  private val SpanLayers = Map(
    "queries.build" -> "queries.build_s", "catalyst.analyze" -> "catalyst.analyze_s",
    "catalyst.optimize" -> "catalyst.optimize_s", "catalyst.plan" -> "catalyst.plan_s",
    "ingest.parse" -> "ingest.parse_s", "noise.classify" -> "noise.classify_s",
    "noise.ground" -> "noise.ground_s", "sink.write" -> "sink.write_s",
    "sources.get_batch" -> "sources.get_batch_s", "streaming.commit" -> "streaming.commit_s")

  /** Reduces the traced run to one value per layer metric. Each operation
    * gives one value (summed over its spans); the metric is the median over
    * the operations of each plan, averaged over the plans that have it.
    * Layers a workload does not have report 0.
    */
  def perLayer(m: Measured, tracer: Tracer): Map[String, (Double, String)] = {
    val spans = tracer.spans
    val self = Span.selfTimes(spans)
    val fromSpans = spans.groupBy(_.op).toSeq.map { case (op, ss) =>
      val ids = ss.map(_.id).toSet
      val byLayer = ss.filter(s => SpanLayers.contains(s.name)).groupBy(s => SpanLayers(s.name))
        .map { case (n, xs) => n -> xs.map(_.duration).sum / 1e9 }
      val buildIds = ss.filter(_.name == "queries.build").map(_.id).toSet
      val buildJobs = ss.count(s => s.name == "job" && s.parent.exists(buildIds))
      val root = ss.filter(s => s.parent.forall(p => !ids.contains(p)))
      val glue = ss.filter(s => s.name == "op" || s.name.startsWith("noise.map_")).map(s => self(s.id)).sum
      val wall = root.map(_.duration).sum
      val accounted = ss.map(s => self(s.id)).sum
      Pipeline.forOp(op) -> (byLayer ++ Map("queries.build_jobs" -> buildJobs.toDouble,
        "trace.untraced_gap_s" -> glue / 1e9,
        "trace.unaccounted_s" -> (wall - accounted) / 1e9))
    }
    val all = m.perOp.toSeq ++ fromSpans
    LayerUnits.map { case (n, u) =>
      val perPlan = Pipeline.Plans.flatMap { p =>
        val vs = all.collect { case (`p`, vals) if vals.contains(n) => vals(n) }
        if (vs.isEmpty) None else Some(Stats.median(vs))
      }
      val v = n match {
        case "trace.overhead_ratio" => m.tracingOverhead
        case "jvm.rss_peak_mb" => m.rssPeakMb
        case _ => if (perPlan.isEmpty) 0.0 else perPlan.sum / perPlan.size
      }
      n -> (v, u)
    }.toMap
  }

  def dirBytes(path: String): Long = {
    val p = Path.of(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
