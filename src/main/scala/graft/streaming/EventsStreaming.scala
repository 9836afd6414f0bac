package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §7.6 — the reference is a
  * single-snapshot batch job, functions.py:279-330; streaming is the scoped
  * extension over the `events`-shaped feed).
  *
  * The transformations are plain DataFrame functions usable on either a
  * batch frame or a `readStream` frame; EventQueries.q37 is the oracle-
  * checked batch equivalent of [[tumblingCounts]]. A live OpenSky poller
  * would be a rate-limited foreachBatch / custom MicroBatchStream around the
  * same transforms — deliberately not built here so nothing touches the
  * network (SURVEY.md §7.6).
  */
object EventsStreaming {

  /** One definition of the windowed count/sum aggregation — tumbling and
    * sliding differ ONLY in the window spec, so the watermark horizon, agg
    * columns, and output names cannot drift between the two oracle-checked
    * twins (q37 / q109).
    */
  private def windowedCounts(events: DataFrame, length: String, slide: String): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), length, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Tumbling 5-minute window aggregation with a 10-minute watermark:
    * count + sum(value) per (window, event_type). Late rows beyond the
    * watermark are dropped in streaming mode; on a batch frame the watermark
    * is a no-op and results equal EventQueries.q37's buckets.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, "5 minutes", "5 minutes")

  /** Sliding windows (10 minutes every 5): each event contributes to two
    * overlapping windows; state is bounded by the watermark exactly as for
    * tumbling. Batch twin: EventQueries.q109 (integer slot arithmetic, same
    * buckets).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, "10 minutes", "5 minutes")

  /** Per-user running noise/value state via mapGroupsWithState: emits
    * (user_id, n_events, total_value) updated per micro-batch. The
    * KeyValueGroupedDataset custom-state path for semantics window functions
    * can't express incrementally.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          (user, n, v)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Per-(user, fixed-window) quota state: events seen, events admitted,
    * and the admitted value mass as an exact ×10⁸-scaled integer (the
    * decimal(30,8) accumulation [[graft.functions.Det.dsum]] uses,
    * streamed).
    */
  final case class QuotaState(n: Long, admitted: Long, scaled: BigInt)

  /** STREAMING FIXED-WINDOW RATE LIMITING — the incremental form of
    * q338's batch twin: state keyed by (user, 10-minute window) admits
    * the first `quota` events by (event time, event_id) and rejects the
    * rest; each update emits the cell's running census. Micro-batch rows
    * fold in explicit (ts, event_id) order, so for an in-order feed the
    * final state per cell equals the batch rank — StreamingSpec pins the
    * parity across batch splits. State is one counter triple per ACTIVE
    * (user, window) cell; at scale the cells a watermark has passed
    * would be evicted by an event-time timeout (the sessionizeStream
    * contract), kept eternal here because the spec replays finite feeds.
    */
  def quotaPerUserWindow(events: DataFrame, windowUs: Long = 600000000L,
      quota: Int = 5): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(r => (r._1, r._2 / windowUs))
      .mapGroupsWithState[QuotaState, (Long, Long, Long, Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case ((user, win), rows, state: GroupState[QuotaState]) =>
          var st = state.getOption.getOrElse(QuotaState(0L, 0L, BigInt(0)))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            st =
              if (st.admitted < quota)
                QuotaState(st.n + 1, st.admitted + 1,
                  st.scaled + BigDecimal(r._4)
                    .setScale(8, BigDecimal.RoundingMode.HALF_UP)
                    .*(BigDecimal(100000000L)).toBigInt)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          // the dsum display rule: floor(Σ·100)/100
          val v = (BigDecimal(st.scaled) / BigDecimal(1000000L))
            .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong / 100.0d
          (user, win, st.n, st.admitted, st.n - st.admitted, v)
      }
      .toDF("user_id", "win", "n_events", "n_admitted", "n_rejected",
        "admitted_value")
  }

  /** Streaming EWMA per user — the incremental form of q140's batch twin
    * q137: state carries (n, ewma); each micro-batch folds its rows in
    * (ts, event_id) order with e ← α·x + (1−α)·e, seeding from the first
    * value. Within-batch order is pinned by an explicit sort of the group's
    * rows; ACROSS batches the fold applies in arrival order (an
    * out-of-order feed would need a watermark-bounded reorder buffer —
    * documented contract, same as runningUserTotals). α = 0.25 is dyadic,
    * so the streamed fold over an in-order feed reproduces the batch
    * q137 result bit-for-bit.
    */
  def ewmaPerUser(events: DataFrame, alpha: Double = 0.25): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id").cast("long"), col("ts").cast("long").as("tsl"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          var (n, e) = state.getOption.getOrElse((0L, 0.0))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            e = if (n == 0L) r._4 else alpha * r._4 + (1.0 - alpha) * e
            n += 1
          }
          state.update((n, e))
          (user, n, e)
      }
      .toDF("user_id", "n_events", "ewma")
  }

  /** Running EWMA plus the not-yet-safe tail of events, buffered until the
    * watermark passes them.
    */
  final case class EwmaState(n: Long, e: Double, buf: List[(Long, Long, Double)])

  /** Watermark-ordered streaming EWMA — closes [[ewmaPerUser]]'s documented
    * out-of-order gap: arriving events first land in a per-user BUFFER;
    * only events whose event time the watermark has passed are drained —
    * in (ts, event_id) order — into the running fold, so reorderings
    * bounded by the watermark delay cannot change the result. The buffer
    * holds at most (watermark horizon × user rate) rows — bounded state,
    * evicted by time, the standard reorder-buffer contract. An event-time
    * timeout fires the drain even when the user receives no further
    * events. Emits (user, n_folded, ewma) whenever the fold advances
    * (Append mode with one row per drain).
    */
  def ewmaPerUserOrdered(events: DataFrame, alpha: Double = 0.25,
      delay: String = "10 minutes"): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[EwmaState]) =>
          val st0 = state.getOption.getOrElse(EwmaState(0L, 0.0, Nil))
          // full microsecond event time: getTime*1000 would truncate to
          // millis (nanos lost), silently re-ordering sub-millisecond
          // events by event_id and breaking the documented bit-for-bit
          // equivalence with the batch fold (q137), which orders by the
          // Catalyst microsecond ts. getNanos carries the sub-second part.
          val incoming = rows.map { r =>
            val us = Math.floorDiv(r._2.getTime, 1000L) * 1000000L + r._2.getNanos / 1000L
            (us, r._3, r._4)
          }.toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (safe, tail) = (st0.buf ++ incoming).sortBy(x => (x._1, x._2))
            .partition(_._1 < wmUs)
          var n = st0.n
          var e = st0.e
          safe.foreach { x =>
            e = if (n == 0L) x._3 else alpha * x._3 + (1.0 - alpha) * e
            n += 1
          }
          state.update(EwmaState(n, e, tail))
          tail.headOption.foreach { h =>
            // wake up when the watermark passes the oldest buffered event
            state.setTimeoutTimestamp(h._1 / 1000L + 1L)
          }
          if (safe.nonEmpty) Iterator((user, n, e)) else Iterator.empty
      }
  }

  /** (event_type, register index, rank) rows for the q132 HyperLogLog
    * protocol — the shared derivation for the batch comparator and the
    * streaming state update: 32-bit md5-derived hash, index = low 8 bits,
    * rho = 25 − MSB position of the remaining 24 bits (via `bin`, no
    * floating log2).
    */
  def hllRegisterRows(events: DataFrame): DataFrame = {
    import graft.functions.HashFunctions
    val w = shiftright(col("hv"), 8)
    events
      .select(col("event_type"),
        HashFunctions.hash32(concat(lit("u"), col("user_id").cast("string"))).as("hv"))
      .select(col("event_type"), pmod(col("hv"), lit(256L)).cast("int").as("idx"),
        when(w === 0, lit(25)).otherwise(lit(25) - length(bin(w))).cast("int").as("rho"))
  }

  /** Full HLL estimate from a 256-register array: q132's harmonic mean
    * PLUS the standard small-range linear-counting correction (E ≤ 2.5m
    * with empty registers → m·ln(m/V)), which the oracle-checked q132
    * deliberately omits because ln is not bit-portable across engines —
    * a constraint this Scala-side estimator doesn't have (the streaming
    * spec compares it against ITSELF run over the batch registers).
    * Without the correction the raw estimator overestimates ~2× below
    * n ≈ 2.5m. Exposed for the batch-equivalence spec.
    */
  def hllEstimate(regs: Array[Int]): Double = {
    var s = 0.0
    var zeros = 0
    var i = 0
    while (i < regs.length) {
      if (regs(i) == 0) { zeros += 1; s += 1.0 }
      else s += 1.0 / (1L << regs(i))
      i += 1
    }
    val m = regs.length.toDouble
    val raw = (0.7213e0 / (1e0 + 1.079e0 / m)) * m * m / s
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }

  /** Streaming distinct-user estimation per event type — q132's
    * HyperLogLog as INCREMENTAL state: each key's state is its 256-register
    * array (1 KB, bounded forever), each micro-batch folds its rows in by
    * register max — the same merge that q141 exploits for rollups, running
    * continuously. Emits the refreshed estimate per key per batch. This is
    * the streaming cardinality service shape: state size independent of
    * stream length, registers mergeable across restarts and across keys.
    */
  def hllDistinctUsers(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val typed = hllRegisterRows(events).as[(String, Int, Int)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Int], (String, Double)](
        GroupStateTimeout.NoTimeout) {
        case (t, rows, state: GroupState[Array[Int]]) =>
          val regs = state.getOption.getOrElse(new Array[Int](256))
          rows.foreach { r => if (r._3 > regs(r._2)) regs(r._2) = r._3 }
          state.update(regs)
          (t, hllEstimate(regs))
      }
      .toDF("event_type", "est_distinct")
  }

  /** [[hllDistinctUsers]]'s register-level twin for the ORACLE gate: the
    * identical mapGroupsWithState state update, emitting the raw 256
    * registers instead of the estimate — registers are integers and
    * hash-compare across engines, while the estimate's log-based
    * small-range correction is not bit-portable. Run over a BATCH frame
    * (mapGroupsWithState executes in batch too, one state fold per key)
    * this puts the exact streaming-state code path under the DuckDB
    * compare (q209), complementing the per-micro-batch prefix checks in
    * StreamingSpec.
    */
  def hllRegisterState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val typed = hllRegisterRows(events).as[(String, Int, Int)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Int], (String, Array[Int])](
        GroupStateTimeout.NoTimeout) {
        case (t, rows, state: GroupState[Array[Int]]) =>
          val regs = state.getOption.getOrElse(new Array[Int](256))
          rows.foreach { r => if (r._3 > regs(r._2)) regs(r._2) = r._3 }
          state.update(regs)
          (t, regs.clone())
      }
      .toDF("event_type", "regs")
  }

  /** (row, bucket) count-min cell coordinates for a user-keyed sketch —
    * the q129 derivation (d=4 independent 8-hex md5 windows × w=512
    * buckets) over `concat("u", user_id)`, shared by the streaming state
    * update and its batch comparator.
    */
  def countMinRows(events: DataFrame): DataFrame = {
    import graft.functions.HashFunctions
    val positions = Seq(1, 9, 17, 25)
    events
      .select(concat(lit("u"), col("user_id").cast("string")).as("k"))
      .select(explode(array(positions.zipWithIndex.map { case (p, i) =>
        struct(lit(i).as("row"),
          (HashFunctions.hash32At(col("k"), p) % 512).cast("int").as("bucket"))
      }: _*)).as("c"))
      .select(col("c.row").as("row"), col("c.bucket").as("bucket"))
  }

  /** Streaming count-min sketch — q129's frequency sketch as INCREMENTAL
    * state: each of the d=4 hash rows keeps its 512-counter array (4 KB,
    * bounded forever) in mapGroupsWithState; every micro-batch ADDS its
    * cell counts — the count-min update is a plain sum, so streaming state
    * after any prefix equals the batch sketch of the same prefix, counter
    * for counter (the mergeable-state property the spec pins). Emits each
    * row's refreshed counter array per batch; a frequency service would
    * serve `min over rows of counters[bucket(key)]` from exactly this
    * state. State size is independent of stream length — the 100 TB/day
    * property — and rows are independent keys, so the 4 states update in
    * parallel.
    */
  def streamingCountMin(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val typed = countMinRows(events).as[(Int, Int)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (Int, Array[Long])](
        GroupStateTimeout.NoTimeout) {
        case (row, rows, state: GroupState[Array[Long]]) =>
          val cells = state.getOption.getOrElse(new Array[Long](512))
          rows.foreach(r => cells(r._2) += 1L)
          state.update(cells)
          (row, cells.clone())
      }
      .toDF("row", "counters")
  }

  /** Streaming Misra–Gries heavy-hitter CANDIDATES per event type —
    * operators.Sketches.heavyHitterCandidates as INCREMENTAL state. Each
    * key keeps at most k−1 counters forever (a few hundred bytes per event
    * type, independent of stream length); every micro-batch folds its items
    * through the classic MG update (increment tracked / admit if room /
    * decrement-all). The one-pass MG error bound — true_count − counter ≤
    * n/k — is preserved across batches because concatenating batches IS the
    * one pass, so after any prefix every item with frequency > n/k is
    * guaranteed present among the emitted candidates (the same superset
    * guarantee the batch per-partition form gives; counters themselves are
    * order-dependent, the guarantee is not). An exact verify join over the
    * emitted candidates — the Sketches.heavyHitters second phase — turns
    * the candidate set into exact heavy hitters without the full-cardinality
    * aggregation ever running on the stream.
    *
    * Emits (event_type, item, counter, n_seen) per batch in Update mode.
    */
  def streamingHeavyHitters(events: DataFrame, k: Int = 8): DataFrame = {
    import events.sparkSession.implicits._
    require(k >= 2, s"k must be >= 2, got $k")
    val typed = events
      .select(col("event_type").cast("string"), col("user_id").cast("string"))
      .as[(String, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Map[String, Long], Long), (String, String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[(Map[String, Long], Long)]) =>
          val (prev, prevN) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val counters = scala.collection.mutable.HashMap[String, Long](prev.toSeq: _*)
          var n = prevN
          rows.foreach { case (_, item) =>
            n += 1L
            counters.get(item) match {
              case Some(c) => counters.update(item, c + 1L)
              case None if counters.size < k - 1 => counters.update(item, 1L)
              case None =>
                counters.mapValuesInPlace((_, v) => v - 1L)
                counters.filterInPlace((_, v) => v > 0L)
            }
          }
          state.update((counters.toMap, n))
          counters.iterator.map { case (item, c) => (etype, item, c, n) }
      }
      .toDF("event_type", "item", "counter", "n_seen")
  }

  /** Streaming ground-noise estimation: the flagship pipeline over a live
    * feed. Events classify into noise sources (`NoiseQueries.sourcesOf`),
    * stream-static join against the precomputed ground grid (the static
    * side broadcasts — no state), then a watermarked tumbling window
    * aggregates the power-domain sum per cell per window. This is the
    * reference's batch snapshot loop (reference functions.py:279-330 runs
    * once per invocation) turned into a continuous query.
    */
  def streamingNoise(staticGrid: DataFrame, events: DataFrame,
                     windowLen: String = "5 minutes"): DataFrame = {
    import graft.functions.GeoFunctions._
    graft.queries.NoiseQueries.sourcesOf(events.withWatermark("ts", "10 minutes"), col("ts"))
      .join(broadcast(staticGrid)) // stream-static cross join, grid broadcast
      .withColumn("dist_m",
        haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")))
      .filter(col("dist_m") <= RMaxM)
      .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
      .groupBy(window(col("ts"), windowLen).as("w"), col("g_lat"), col("g_lon"))
      .agg(dbPowerSum(col("contrib")).as("db"))
      .select(col("w.start").as("window_start"), col("g_lat"), col("g_lon"), col("db"))
  }

  /** A gap-closed user session: emitted once the event-time watermark passes
    * last activity + gap.
    */
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  final case class SessionState(start_us: Long, last_us: Long, n: Long)

  /** Streaming sessionization via flatMapGroupsWithState with an event-time
    * timeout: events extend the user's open session; when the watermark
    * passes (last event + gap) the state times out and the closed session is
    * emitted exactly once (Append mode). The streaming-state counterpart of
    * the batch q38 gap sessionization.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start_us, s.last_us, s.n))
          } else {
            val us = rows.map(_._2.getTime * 1000L).toSeq
            val prev = state.getOption
            val next = SessionState(
              math.min(prev.map(_.start_us).getOrElse(Long.MaxValue), us.min),
              math.max(prev.map(_.last_us).getOrElse(Long.MinValue), us.max),
              prev.map(_.n).getOrElse(0L) + us.size)
            state.update(next)
            state.setTimeoutTimestamp(next.last_us / 1000L + gapMs)
            Iterator.empty
          }
      }
  }

  /** Stream-stream interval join: clicks matched to the SAME user's
    * purchases within the preceding hour — a true two-stream stateful join
    * (not stream-static). Both sides carry watermarks and the join condition
    * bounds p_ts to [c_ts − 1h, c_ts], so the state store can evict either
    * side once the other's watermark passes the interval — bounded state at
    * any throughput, the shape stream-stream joins must have at 100 TB/day.
    * Streaming counterpart of the batch range/as-of joins (q45/q67).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("c_ts"))
      .select(col("c_event"), col("p_event"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"))
  }

  /** [[clickPurchaseJoin]] as a LEFT OUTER stream-stream join — the
    * attribution-with-misses shape: every click emits, purchase columns
    * null when no purchase landed in the preceding hour. The outer
    * (null-padded) row for an unmatched click can only emit once BOTH
    * watermarks have passed the click's interval — before that a
    * matching purchase could still arrive — so unmatched results are
    * delayed by exactly the lateness bound, never guessed early. Same
    * bounded-state eviction as the inner form.
    */
  def clickPurchaseJoinOuter(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    c.join(p,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"),
        "leftOuter")
      .select(col("c_event"), col("p_event"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"))
  }

  /** Streaming exact dedup on event_id within the watermark window — the
    * streaming counterpart of Dedup.exactDedup for at-least-once feeds
    * (duplicate deliveries inside the lateness horizon are dropped with
    * bounded state).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming eval-set decontamination: an ingest stream of documents is
    * shingle-exploded ([[graft.operators.CorpusOps.shingleHashes]] — pure
    * stateless generators, streaming-safe) and inner-joined against the
    * STATIC eval-set shingle table, so contaminated documents are flagged as
    * they arrive instead of in a nightly batch sweep. The stream-static
    * inner join is stateless (the static side broadcasts); the only state is
    * the per-doc dedup, bounded by `arrival_ts` watermark — at 100 TB/day
    * the state store holds one key per contaminated doc per lateness
    * horizon, not per shingle.
    *
    * `docs` needs (doc_id, text, arrival_ts); output is the distinct stream
    * of contaminated (doc_id, arrival_ts).
    */
  def contaminatedDocs(docs: DataFrame, evalSet: DataFrame, n: Int): DataFrame = {
    val evalShingles = graft.operators.CorpusOps.shingleHashes(evalSet, n)
      .select(col("gh")).distinct()
    val streamShingles = graft.operators.CorpusOps.shingleHashes(
      docs.withWatermark("arrival_ts", "10 minutes"), n, carry = Seq("arrival_ts"))
    streamShingles
      .join(broadcast(evalShingles), "gh")
      .select(col("doc_id"), col("arrival_ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Streaming incremental near-dup detection — [[graft.operators.Dedup
    * .deltaDedupPairs]]'s continuous twin: documents are LSH-banded AS THEY
    * ARRIVE (pure projections, streaming-safe) and stream-static joined
    * against the HISTORY's banded index; band collisions verify with exact
    * shingle Jaccard in the same micro-batch. History never pairs with
    * itself, and the arriving side never waits for a nightly sweep. The
    * static side broadcasts here (fixture scale); a 100 TB history would
    * be the persisted LSH index table and the same join runs shuffled on
    * (band, key). Only state: the per-pair dedup, bounded by the
    * `arrival_ts` watermark.
    *
    * `docs` needs (doc_id, text, arrival_ts); output is the stream of
    * (new_doc, old_doc, jaccard) matches at >= threshold.
    */
  /** Streaming fingerprint near-dup against the PERSISTED sim64 index —
    * [[graft.operators.Dedup.probeSim64Index]]'s continuous twin, and the
    * in-flight form of the q347 nightly loop: arriving documents compute
    * their 64-bit simhash as a stateless per-row projection (the native
    * [[graft.plans.SimHash64]] expression — the former explode+groupBy
    * signature chain was a stateful streaming aggregation and could not
    * run in a stream at all), band-explode, and stream-static join the
    * STORED index table. The static side is the persisted bucketed table,
    * so the probe reads yesterday's corpus where it lives — no
    * re-fingerprinting of history per micro-batch, the property the
    * nightly loop measures as flat probe cost. The exact ≤ `maxHamming`
    * check runs on band-collision candidates only; the only state is the
    * per-pair dedup, bounded by the `arrival_ts` watermark.
    *
    * `docs` needs (doc_id, text, arrival_ts); output is the stream of
    * (new_doc, old_doc, hamming) at Hamming ≤ maxHamming (guaranteed
    * recall to radius 3 by the 4×16-bit pigeonhole).
    */
  def sim64Arrivals(docs: DataFrame, indexTable: String,
      maxHamming: Int = 3, shingleK: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 bands of 16 bits guarantee recall only to radius 3")
    val spark = docs.sparkSession
    // Dedup.bandedSim64's 4×16-bit explosion, carrying the watermark column
    val arriving = docs.withWatermark("arrival_ts", "10 minutes")
      .filter(size(split(col("text"), " ")) >= shingleK)
      .select(col("doc_id"), col("arrival_ts"),
        graft.plans.SimHash64(col("text"), shingleK).as("sim64"))
      .select(col("doc_id"), col("arrival_ts"), col("sim64"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sim64"), 16 * b).bitwiseAND(lit(65535L)).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("arrival_ts"), col("sim64"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    arriving.as("a")
      .join(spark.table(indexTable).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("old_doc"),
        bit_count(col("a.sim64").bitwiseXOR(col("b.sim64"))).as("hamming"),
        col("a.arrival_ts").as("arrival_ts"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark("new_doc", "old_doc")
      .select("new_doc", "old_doc", "hamming")
  }

  def nearDupArrivals(docs: DataFrame, history: DataFrame, shingleK: Int = 3,
      rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val histBands = Dedup.bandedSignatures(history, shingleK, rowsPerBand)
      .select(col("doc_id").as("old_doc"), col("band"), col("key"))
    val histSh = history.filter(size(split(col("text"), " ")) >= shingleK)
      .select(col("doc_id").as("old_doc"),
        Dedup.hashedShingles(col("text"), shingleK).as("sh_b"))
    val arriving = Dedup.bandedSignatures(
        docs.withWatermark("arrival_ts", "10 minutes"),
        shingleK, rowsPerBand, carry = Seq("arrival_ts", "text"))
      .withColumn("sh_a", Dedup.hashedShingles(col("text"), shingleK))
    val inter = graft.plans.SortedLongArrayIntersectCount(col("sh_a"), col("sh_b"))
    arriving
      .join(broadcast(histBands), Seq("band", "key"))
      .join(broadcast(histSh), "old_doc")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id").as("new_doc"), col("old_doc"), col("jaccard"),
        col("arrival_ts"))
      .dropDuplicatesWithinWatermark("new_doc", "old_doc")
      .select("new_doc", "old_doc", "jaccard")
  }

  /** Stream-static bloom semi-join pruning: keep only events whose user is
    * in the static `hotUsers` set, with [[graft.operators.BloomPrune]]'s
    * build-once bloom applied map-side BEFORE the stream-static semi join.
    * The bloom collapses the static side at PLAN time into a foldable
    * literal predicate — completely stateless in the stream (every
    * micro-batch filters through the same bits), so the expensive per-row
    * work of the semi join only sees candidate rows. Same exactness contract
    * as the batch operator: the semi join removes bloom false positives.
    */
  def bloomPrunedEvents(events: DataFrame, hotUsers: DataFrame,
      expectedItems: Long = 1000000L): DataFrame =
    graft.operators.BloomPrune.semiJoin(
      events, col("user_id"), hotUsers, col("hot_id"), expectedItems)

  /** Streaming writer for [[tumblingCounts]] in update mode (memory/console/
    * parquet per `format`); caller awaits the returned query.
    */
  def startTumbling(events: DataFrame, format: String, queryName: String) =
    tumblingCounts(events).writeStream
      .format(format)
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()

  /** foreachBatch sink: per micro-batch, overwrite the batch's parquet
    * partition under `outDir/batch_id=N` — the idempotent-upsert pattern for
    * sinks without native streaming support (each batch id lands exactly
    * once even across retries, because the write is a deterministic
    * overwrite of its own directory).
    */
  def startTumblingForeachBatch(events: DataFrame, outDir: String) =
    tumblingCounts(events).writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
}
