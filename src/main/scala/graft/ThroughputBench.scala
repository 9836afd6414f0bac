package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Concurrent-stream throughput: the full query surface drained by K worker
  * threads sharing one SparkSession (the multi-tenant shape — Spark's
  * scheduler interleaves jobs from concurrent sessions/threads). Prints
  * wall seconds, aggregate query-seconds, the effective concurrency
  * (aggregate/wall), and per-query latency percentiles — sequential Bench
  * measures latency, this measures how much of it is scheduler-serializable
  * overhead.
  *
  * SPARK_GRAFT_CONF="spark.scheduler.mode=FAIR" switches from the default
  * FIFO job scheduler to FAIR with one pool per stream (each undeclared
  * pool gets equal weight, so K concurrent streams share the cluster evenly
  * instead of queueing behind whichever stream submitted first). FIFO
  * maximizes throughput on a drain-the-backlog shape; FAIR bounds
  * per-stream tail latency in the serve-many-tenants shape — the p95/max
  * fields make the trade measurable.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_STREAMS=8 \
  *   [SPARK_GRAFT_CONF="spark.scheduler.mode=FAIR"] \
  *   sbt "runMain graft.ThroughputBench"
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val streams = sys.env.getOrElse("SPARK_GRAFT_STREAMS", "8").toInt
    val cpus = Session.cpus
    val spark = Session.builder(cpus).getOrCreate()
    val scheduler = spark.conf.get("spark.scheduler.mode", "FIFO").toUpperCase
    spark.sparkContext.setLogLevel("ERROR")

    // warm the table plans once so per-stream cost is query work, not listing
    Tables.warm(spark, sfDir)

    val work = new ConcurrentLinkedQueue[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach(q => work.add(q))
    val nQueries = work.size
    val aggregateNanos = new AtomicLong(0L)
    // per-query ATTRIBUTED samples (round-12 verdict ask #5: the tail grew
    // p95 8.2→15.5 s across rounds but the percentiles were anonymous):
    // (name, stream, nanos, startOffsetNanos) — offset places the sample
    // inside the run's timeline, so a co-located cluster of slow samples
    // distinguishes a contended WINDOW from an intrinsically slow QUERY.
    final case class Sample(name: String, stream: Int, nanos: Long, at: Long)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val failures = new ConcurrentLinkedQueue[String]()

    val t0 = System.nanoTime()
    val threads = (1 to streams).map { id =>
      new Thread(() => {
        // one pool per stream: under FAIR mode, pools (not jobs) share the
        // cluster equally, so no stream starves behind another's backlog.
        // Local properties are inherited per thread; harmless under FIFO.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"stream-$id")
        var next = work.poll()
        while (next != null) {
          val (name, fn) = next
          val s0 = System.nanoTime()
          // NonFatal only: an OOM or JVM error must abort the bench, not
          // degrade into a low failure count under a misleading headline.
          // A failed query's sample is its time to failure.
          val took =
            try (Bench.time(fn(spark, sfDir)) * 1e9).toLong
            catch {
              case scala.util.control.NonFatal(t) =>
                failures.add(s"$name:${t.getClass.getSimpleName}")
                System.nanoTime() - s0
            }
          aggregateNanos.addAndGet(took)
          samples.add(Sample(name, id, took, s0 - t0))
          next = work.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val agg = aggregateNanos.get() / 1e9
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val all = samples.toArray(Array.empty[Sample])
    val lat = all.map(_.nanos / 1e9).sorted
    def pct(p: Double) =
      if (lat.isEmpty) 0.0 else lat(math.min(lat.length - 1, (p * lat.length).toInt))
    // the tail, NAMED: worst samples with stream + timeline position — the
    // headline's p95/max become attributable queries instead of numbers
    val tail = all.sortBy(-_.nanos).take(5).map { sm =>
      s"""{"q":"${sm.name.takeWhile(_ != '_')}","stream":${sm.stream},""" +
        s""""sec":${f(sm.nanos / 1e9)},"at_sec":${f(sm.at / 1e9)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"throughput","wall_sec":${f(wall)},"aggregate_query_sec":${f(agg)},""" +
      s""""effective_concurrency":${f(agg / wall)},"streams":$streams,""" +
      s""""scheduler":"$scheduler","p50_sec":${f(pct(0.50))},"p95_sec":${f(pct(0.95))},""" +
      s""""max_sec":${f(if (lat.isEmpty) 0.0 else lat.last)},"tail":$tail,""" +
      s""""n_queries":$nQueries,"failures":${failures.size},""" +
      // failure NAMES (capped): a bare count was a blind spot — the round-13
      // smoke run reported 1 failure with no way to tell which query raced
      s""""failed":${failures.toArray(Array.empty[String]).take(8)
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sf":"$sfDir","cpus":$cpus}""")
    // side-channel: EVERY sample, full names — cross-run diffing of the
    // tail without the stdout budget (the Bench.scala bench_full pattern)
    try {
      val out = java.nio.file.Paths.get("target", "throughput_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      val body = all.sortBy(s => (s.name, s.at)).map { sm =>
        s"""{"q":"${sm.name}","stream":${sm.stream},"sec":${f(sm.nanos / 1e9)},"at_sec":${f(sm.at / 1e9)}}"""
      }.mkString(s"""{"metric":"throughput_samples","streams":$streams,"scheduler":"$scheduler","sf":"$sfDir","samples":[""", ",", "]}")
      java.nio.file.Files.write(out,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[throughput] side-channel write failed: $e")
    }
    spark.stop()
  }
}
