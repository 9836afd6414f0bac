package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query wall seconds
  * (median of SPARK_GRAFT_BENCH_REPEATS in-process runs, default 3).
  * Every bench main times a query through [[time]] or [[timeRows]].
  *
  * The repeats are INTERLEAVED: the whole surface runs in `repeats` passes
  * and each query's median is taken ACROSS passes. Back-to-back repeats
  * share whatever co-tenant slow window they land in, which is exactly why
  * a median of 3 consecutive runs still shipped 24 phantom movers in round
  * 12 (all adjudicated ambient: flat gcSec, loadavg 7-29); with passes
  * separated by the full surface (~4-5 min), a 10-minute contention window
  * inflates at most ONE sample per query and the median sheds it. Each pass
  * runs in a deterministically SHUFFLED order (seed = pass index): periodic
  * passes re-exposed the same queries to any window longer than ~2 pass
  * periods (round 13's movers were one contiguous id block), while per-pass
  * permutations turn such a window into isolated single-sample noise.
  *
  * DIAGNOSTICS: each RUN appends [heapMB, gcSec, storageMB, loadavg,
  * scopedPending] to the side-channel file (one snapshot per pass) — the
  * round-11 verdict's ask:
  * if a slow window correlates with heap/cache residency the code owns it;
  * if it correlates with loadavg alone it is co-tenant contention. After
  * each query's run, [[graft.operators.ScopedCache.drain]] zeroes
  * cross-query cache residency (within-query warmth is already spent).
  * For flagged movers, the compact STDOUT line additionally carries
  * `"mdiag"`: per-pass `[gcSec, loadavg]` rows plus one final row for the
  * rerun window — the two columns PINNED_BASELINE.md's substitution rule
  * adjudicates on, so the driver-captured BENCH_rN artifact alone supports
  * (or refutes) a contention substitution without out-of-band sweeps.
  */
object Bench {

  /** Builds `df` and writes its whole output to the `noop` sink; returns the
    * wall seconds of both. A `count()` would let Catalyst prune the output
    * projections and under-measure expression-heavy plans; noop evaluates
    * every output column without any I/O cost.
    */
  def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[time]] plus the output's row count, observed on the same job rather
    * than by a second one. The count resolves only once the listener bus
    * has delivered the write's end event, so the loops that discard it
    * (Bench, ThroughputBench) call [[time]] and do not wait.
    */
  def timeRows(df: => DataFrame): (Double, Long) = {
    val obs = new Observation()
    val sec = time(df.observe(obs, count(lit(1)).as("rows")))
    (sec, obs.get("rows").asInstanceOf[Long])
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // so the first query in the order doesn't absorb session-init cost
    Tables.warm(spark, sfDir)
    // Per-query MEDIAN of `repeats` in-process runs: single-shot numbers on
    // this class of VM swing +-50% run-to-run (observed 200-454 s totals for
    // identical code; a 1.9->14 s phantom regression got audited in round
    // 4), so cross-round comparisons need a location estimate that sheds
    // one-off JIT/GC/IO spikes. The median of 3 does that at +2 runs per
    // query; the reported total is the sum of medians.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    // A failing query must be VISIBLE in the output, not a near-zero "fast
    // pass": failures are reported in an errors list and excluded from the
    // per-query map and the total.
    // SPARK_GRAFT_BENCH_ONLY="q190,q41" restricts to name-prefix matches —
    // dev loop only (mirrors Verify's SPARK_GRAFT_ONLY); driver unaffected.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // Previous medians, loaded BEFORE the sweep (they feed mover detection
    // afterwards). Two sources, in order:
    // this JVM tree's own last side-channel file, then the COMMITTED
    // per-round snapshot (bench_prev.json, refreshed at each round close)
    // — so the driver's fresh-target round run still sees the previous
    // round's medians. A source only counts when it covers at least half
    // the current surface: a dev-loop SPARK_GRAFT_BENCH_ONLY run leaves a
    // few-query side-channel behind, and comparing the full sweep against
    // it would blind the mover detection for every query the restricted
    // run skipped. The same-sf check compares the DIRECTORY string, so a
    // sf0.001 dev side-channel never seeds a sf0.1 driver sweep.
    val prev = Seq(
      java.nio.file.Paths.get("target", "bench_full.json"),
      java.nio.file.Paths.get("bench_prev.json")).view.map { p =>
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val sfOk = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty[String, Double]
        else """"(q[0-9][^"]*)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch {
        // a missing or unreadable file is no source
        case scala.util.control.NonFatal(_) => Map.empty[String, Double]
      }
    }.find(_.size * 2 >= allQueries.size.max(1)).getOrElse(Map.empty)
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var t = 0L
      while (it.hasNext) { val v = it.next().getCollectionTime; if (v > 0) t += v }
      t
    }
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    def storageMb(): Long =
      try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)
      catch { case scala.util.control.NonFatal(_) => -1L }
    // name -> one "[heapMB, gcSec, storageMB, loadavg, scopedPending]"
    // snapshot PER RUN (one per pass), so a slow sample is
    // attributable to its own window, not smeared across repeats
    val diag = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    // Compact [gcSec, loadavg] per run, kept separately so the stdout line
    // can carry the SUBSTITUTION-RULE evidence for flagged movers without
    // blowing its char budget: PINNED_BASELINE's adjudication needs exactly
    // these two columns (gcSec ~ excess -> GC debt; flat gc + loadavg >>
    // worker count -> co-tenant), and round 15's verdict held two movers
    // `weak` solely because the driver artifact carried reruns with no diag.
    val diagGL = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    val timesByName = scala.collection.mutable.LinkedHashMap(
      allQueries.map(q => q._1 ->
        scala.collection.mutable.ArrayBuffer.empty[Double]): _*)
    val errByName = scala.collection.mutable.Map.empty[String, String]
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      val gc0 = gcMillis()
      try timesByName(name) += time(fn(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        errByName(name) = e.getClass.getSimpleName
      }
      // diagnostics SNAPSHOT before the drain (residency as the query left
      // it), drain AFTER (the next query starts from a clean cache slate)
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val gcSec = (gcMillis() - gc0) / 1000.0
      val load = loadAvg()
      diag.getOrElseUpdate(name,
        scala.collection.mutable.ArrayBuffer.empty[String]) +=
        ("[" + heapMb + "," +
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(gcSec)) + "," +
          storageMb() + "," +
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(load)) +
          "," + graft.operators.ScopedCache.pendingCount + "]")
      diagGL.getOrElseUpdate(name,
        scala.collection.mutable.ArrayBuffer.empty[String]) +=
        ("[" +
          String.format(java.util.Locale.ROOT, "%.1f", Double.box(gcSec)) + "," +
          String.format(java.util.Locale.ROOT, "%.1f", Double.box(load)) + "]")
      graft.operators.ScopedCache.drain()
      // NO System.gc() here — measured and rejected (PERF.md round 12):
      // a forced collection per query did flatten the heap (median
      // 903 MB vs 2.3-4 GB) and removed the one observed 7.5 s
      // deferred-GC spike, but the sweep total ROSE (303 vs 238 s) and
      // sweep-vs-rerun movers persisted — the residual window noise is
      // ambient, and per-query full GCs just add wall time. The diag
      // columns are the tool: a mover whose gcSec ~ its excess is GC
      // debt; one with flat gc/heap and elevated loadavg is co-tenant.
    }
    // Interleaved, shuffled passes (see above). Pass 1 additionally absorbs
    // all JIT warmup, leaving passes 2+ as clean steady-state samples — with
    // repeats=3 the median lands on a warm sample whenever at least two
    // passes are clean. A failed query is not re-run.
    (0 until repeats).foreach { pass =>
      new scala.util.Random(0x5DEECE66DL * (pass + 1)).shuffle(allQueries)
        .foreach { case (name, fn) =>
          if (!errByName.contains(name)) runOnce(name, fn)
        }
    }
    val results = allQueries.map { case (name, _) =>
      val times = timesByName(name)
      val median =
        if (times.isEmpty) 0.0
        else {
          val s = times.sorted
          val n = s.size // true median: average the two middle runs when even
          if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
        }
      (name, median, errByName.get(name))
    }
    val ok = results.collect { case (k, v, None) => k -> v }
    // qNN-compressed error names, capped: a mass failure (bad sfDir -> all
    // ~100 queries error) must still fit the output budget below, or the
    // very line meant to surface the failure would be the thing truncated.
    val errNames = results.collect { case (k, _, Some(_)) => k.takeWhile(_ != '_') }
    val errShown = errNames.take(20)
    val errs = (errShown.map("\"" + _ + "\"") ++
      (if (errNames.size > errShown.size)
        Seq("\"+" + (errNames.size - errShown.size) + " more\"") else Nil))
      .mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // n_queries + mean keep the headline comparable across rounds as the
    // query surface grows (66 -> 90+ queries): the TOTAL is expected to rise
    // with coverage; the mean is the stable per-query cost signal.
    val mean = if (ok.nonEmpty) total / ok.size else 0.0
    // The harness that consumes this line keeps only the last ~2000 chars of
    // output: a JSON line longer than that is truncated mid-line and lost.
    // Keep it compact (qNN keys, 2-decimal seconds) and enforce a hard
    // budget — if the surface ever outgrows it, drop the FASTEST per-query
    // entries first and say how many were omitted. The errors list is part
    // of `head`, so its (capped) length is inside the budget too.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // MOVERS: any query whose median shifted >2x either way vs the previous
    // run is forced into the compact stdout line ahead of the slowest-first
    // fill, so the driver-captured BENCH_rN alone surfaces every
    // cross-round mover even when the char budget drops fast entries.
    // Sub-50ms medians are exempt (pure timer noise at that magnitude).
    val movers = ok.filter { case (k, v) =>
      prev.get(k).exists(p0 => p0 > 0.05 && v > 0.05 &&
        (v / p0 > 2.0 || p0 / v > 2.0))
    }.map(_._1).toSet
    // SELF-ADJUDICATION: re-run each flagged mover once more, now that the
    // full sweep has warmed the JVM — the VM-interleaving spikes that have
    // produced phantom >2x movers every round since round 4 evaporate on
    // the re-run, while a real regression reproduces. Both numbers ship in
    // the compact head ("moved": {"qNN": [sweepMedian, rerun]}), so the
    // driver-captured BENCH_rN alone distinguishes noise from regression
    // without a judge session. Slowest-first, capped so a mass-mover round
    // cannot blow the char budget (the count is always in "movers").
    // The rerun is itself a MEDIAN OF 3: round 10 shipped a one-shot rerun
    // and its own snapshot showed a single warm run can be wilder than the
    // sweep (q273: 2.14 s sweep median vs 27.89 s one-shot rerun) — an
    // adjudication signal that noisy points the wrong way. Three runs cost
    // at most ~12 queries x 2 extra runs and make the verdict stable.
    val movedPairs = ok.filter { case (k, _) => movers(k) }
      .sortBy(-_._2).take(12).map { case (k, v) =>
        val gc0 = gcMillis()
        val runs = (1 to 3).map { _ =>
          try time(SparkEntry.queries(k)(spark, sfDir))
          catch { case scala.util.control.NonFatal(_) => -1.0 }
        }
        graft.operators.ScopedCache.drain()
        // rerun-window diag row, appended after the per-pass rows — the
        // adjudicator needs the CONDITIONS the substitute was measured
        // under, not just its value
        diagGL.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[String]) +=
          ("[" + String.format(java.util.Locale.ROOT, "%.1f",
              Double.box((gcMillis() - gc0) / 1000.0)) + "," +
            String.format(java.util.Locale.ROOT, "%.1f",
              Double.box(loadAvg())) + "]")
        val rerun =
          if (runs.contains(-1.0)) -1.0 else runs.sorted.apply(1)
        (k, v, rerun)
      }
    val movedJson = movedPairs.map { case (k, v, r) =>
      "\"" + k.takeWhile(_ != '_') + "\":[" + fmt(v) + "," + fmt(r) + "]"
    }.mkString("{", ",", "}")
    // [gcSec, loadavg] per SWEEP PASS plus one final row for the rerun
    // window, per flagged mover — the exact evidence PINNED_BASELINE.md's
    // substitution rule requires, in the driver-captured artifact itself.
    val mdiagJson = movedPairs.map { case (k, _, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" +
        diagGL.getOrElse(k, Nil).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""n_queries":${ok.size},"mean_per_query":${fmt(mean)},""" +
      s""""repeats":$repeats,"tier":"full","pinned":${allQueries.size},""" +
      s""""errors":$errs,"movers":${movers.size},""" +
      s""""moved":$movedJson,"mdiag":$mdiagJson,""" +
      s""""sf":"$sfDir","queries":{"""
    val budget = 1800 - head.length - 40 // room for closing + omitted count
    val bySlow = ok.sortBy { case (k, v) => (if (movers(k)) 0 else 1, -v) }
      .map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
      }
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    bySlow.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val omitted = ok.size - kept.size
    val tailJson =
      if (omitted == 0) "}}" else s"""},"queries_omitted":$omitted}"""
    println(head + kept.sorted.mkString(",") + tailJson)
    // Side-channel: the COMPLETE per-query map (full names, 3-decimal
    // seconds, errors inline), untruncated — the compact stdout line above
    // drops the fastest entries once the surface outgrows its ~2000-char
    // budget (60 entries omitted in round 6), which killed query-by-query
    // cross-round diffing. This file restores it without touching the
    // driver's contract. "diag" carries the per-query
    // [heapMB, gcSec, storageMB, loadavg, scopedPending] snapshots taken
    // at each query's completion (before its drain).
    val fullJson = {
      def fmt3(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val entries = results.sortBy(_._1).map {
        case (k, v, None)    => s""""$k":${fmt3(v)}"""
        case (k, _, Some(e)) => s""""$k":"ERR:$e""""
      }
      // per-run list-of-snapshots: "qNN":[[heap,gc,storage,load,pending],…]
      val diagEntries = diag.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${v.mkString("[", ",", "]")}""" }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""n_queries":${ok.size},"mean_per_query":${fmt(mean)},""" +
        s""""repeats":$repeats,"tier":"full","pinned":${allQueries.size},""" +
        s""""sf":"$sfDir","moved":$movedJson,"queries":{""" +
        entries.mkString(",") + """},"diag":{""" +
        diagEntries.mkString(",") + "}}"
    }
    try {
      val out = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bench_full.json write failed: $e")
    }
    spark.stop()
  }
}
