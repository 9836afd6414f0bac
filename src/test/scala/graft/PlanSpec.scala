package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan-shape regression guards: the physical plans the scale posture
  * depends on — pushdown reaching the scan, broadcasts where intended, no
  * cartesian products in the blocked pairwise operators, whole-stage codegen
  * covering the custom expressions.
  */
class PlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    queries.Registry.all.find(_.name == name).get.run(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q02 filter pushdown reaches the parquet scan") {
    val p = planOf("q02_revenue_filter")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
  }

  test("q03 joins orders to customer via broadcast, not shuffle") {
    val p = planOf("q03_segment_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q19 flagship: broadcast join + two-phase hash aggregation") {
    val p = planOf("q19_noise_flagship")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q20 bucketed noise joins sources on the geo-cell key, not a cross join") {
    val p = planOf("q20_noise_bucketed")
    assert(!p.contains("CartesianProduct"), p)
    // the only cross join is the grid's own range x range generation; the
    // grid-sources pairing must be a hash equi-join on the cell key
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("q19/q20 test the reach window before the haversine; exchange counts pinned") {
    import org.apache.spark.sql.catalyst.expressions.{And, Asin, Expression}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val window = Set("s_lat_lo", "s_lat_hi", "s_lon_reach")
    // exchanges of the initial plan (the window adds conjuncts and
    // source-side columns, never a stage): the grid generation's broadcast,
    // the events scan's round-robin, the sources' broadcast, the grid's
    // exchange by count and the output sort's range exchange. The per-cell
    // sum has none of its own
    Seq("q19_noise_flagship" -> 5, "q20_noise_bucketed" -> 5).foreach { case (q, exchanges) =>
      val plan = queries.Registry.all.find(_.name == q).get.run(spark, dir)
        .queryExecution.executedPlan
      val pairConds = collect(plan) {
        case j: BaseJoinExec if j.condition.exists(_.exists(_.isInstanceOf[Asin])) => j.condition.get
      }
      assert(pairConds.size == 1, s"$q: ${plan.treeString}")
      val cs = conjuncts(pairConds.head)
      val hav = cs.indexWhere(_.exists(_.isInstanceOf[Asin]))
      // the haversine is the last conjunct, and every window bound precedes it
      assert(hav == cs.size - 1, s"$q: $cs")
      assert(cs.take(hav).flatMap(_.references.map(_.name)).toSet.intersect(window) == window,
        s"$q: $cs")
      assert(collect(plan) { case e: Exchange => e }.size == exchanges, s"$q: ${plan.treeString}")
    }
  }

  /** The noise kernels' partitioning (`Noise.byCount`): the plan's only
    * hash exchanges are one REPARTITION_BY_NUM exchange with
    * `spark.sql.shuffle.partitions` partitions on each of `keys` (per input,
    * in order), and no Exchange lies between the grid x sources pair join
    * and any per-cell HashAggregate. Returns the final plan.
    */
  private def assertSumsInJoinStage(q: String, keys: Seq[Seq[String]]): SparkPlan = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
    val plan = queries.Registry.all.find(_.name == q).get.run(spark, dir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // AQE neither coalesces nor reads locally a REPARTITION_BY_NUM exchange
    val hashed = plan.collect {
      case e @ ShuffleExchangeExec(h: HashPartitioning, _, _, _) => (h, e.shuffleOrigin)
    }
    assert(hashed.map(_._1.expressions.flatMap(_.references.map(_.name))).sortBy(_.mkString) ==
      keys.sortBy(_.mkString), s"$q: ${plan.treeString}")
    assert(hashed.forall { case (h, origin) => origin == REPARTITION_BY_NUM && h.numPartitions == n },
      s"$q: ${plan.treeString}")
    def reachesPairJoin(p: SparkPlan): Boolean = p match {
      case _: Exchange => false
      case j if pairJoin.isDefinedAt(j) => true
      case other => other.children.exists(reachesPairJoin)
    }
    val perCell = plan.collect {
      case a: HashAggregateExec if a.groupingExpressions.exists(_.references.exists(_.name == "g_lat")) => a
    }
    assert(perCell.nonEmpty, s"$q: ${plan.treeString}")
    perCell.foreach(a => assert(reachesPairJoin(a), s"$q: ${plan.treeString}"))
    plan
  }

  /** The grid x sources pair join. */
  private val pairJoin: PartialFunction[SparkPlan, SparkPlan] = {
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.output.exists(_.name == "s_lat") && j.output.exists(_.name == "g_lat") => j
  }

  test("q19 hash-partitions the grid by count, and sums per cell without another exchange") {
    assertSumsInJoinStage("q19_noise_flagship", Seq(Seq("g_lat", "g_lon")))
  }

  test("q20 hash-partitions the grid by count, and sums per cell without another exchange") {
    import org.apache.spark.sql.execution.joins.HashJoin
    val plan = assertSumsInJoinStage("q20_noise_bucketed", Seq(Seq("g_lat", "g_lon")))
    // the sources are broadcast onto the grid's partitioning; the pair join
    // probes on the cell key
    val keys = plan.collect(pairJoin).collect { case j: HashJoin =>
      (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
    }
    assert(keys == Seq(Seq("cell_i", "cell_j", "cell_i", "cell_j")), plan.treeString)
  }

  test("q28 blocked ngram-jaccard avoids nested-loop joins entirely") {
    val p = planOf("q28_dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("sorted_intersect_count"), p) // native expression in plan
  }

  test("q67 as-of join runs as one window pass — no join node at all") {
    val p = planOf("q67_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly two hash shuffles: the build side's (user_id, ts) dedup
    // aggregation and the key partition feeding the window — the as-of
    // carry itself adds only the latter (the round-robins are Tables.load's
    // small-scan rebalance; the range exchange is the output sort)
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q74 ivf search broadcasts queries and centroids — corpus never shuffles for the probe") {
    val p = planOf("q74_ivf_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q76 zorder key is a pure projection over the scan (no shuffle before the aggregate)") {
    val p = planOf("q76_zorder_key")
    // bit arithmetic stays in the scan's project; the only exchanges are the
    // aggregation's partial->final and the output sort
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("per-group top-k compiles to WindowGroupLimit, not a full sort+filter") {
    // rank-filter queries (q07/q33/q54/q74...) rely on Spark's built-in
    // WindowGroupLimit pushdown (3.5+): partial per-partition top-k before
    // the shuffle, so per-group limits never sort whole groups. This is the
    // documented reason no custom top-k physical operator exists here.
    val p = planOf("q07_top_orders_per_segment")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q99 weighted sampling is distributed top-k, not a global sort") {
    val p = planOf("q99_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q101 decontamination joins shingle hashes — never doc x doc") {
    val p = planOf("q101_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q100 sequence packing windows per shard, then partially aggregates") {
    val p = planOf("q100_sequence_pack")
    assert(p.contains("Window"), p)
    // the window is keyed on source — never an empty partitionBy
    assert(!p.contains("WindowExec: No Partition Defined"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q151 compaction planner shuffles once on the partition key") {
    val p = planOf("q151_compaction_plan")
    // one hash exchange (source) feeds both the window and the aggregate —
    // the per-(source,bin) groupBy must NOT add a second hash exchange
    // (partitioning by source satisfies clustering by (source, bin))
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
  }

  test("q153 chunk windows is pure projection + explode — no hash shuffle at all") {
    val p = planOf("q153_chunk_windows")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the explode
  }

  test("q152 oov rate broadcasts the vocabulary via TakeOrderedAndProject") {
    val p = planOf("q152_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q150 delta dedup candidates come from hash joins, never nested loops") {
    val p = planOf("q150_delta_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q162 market share: every dimension broadcasts, part filter reaches the scan") {
    val p = planOf("q162_market_share")
    // part, supplier⋈nation, customer⋈nation⋈region all broadcast — the
    // only corpus shuffles are lineitem⋈orders and the (year, nation) agg
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p) // pushed to the scan
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q163 source overlap: pair explode is a projection, state bounded by source count") {
    val p = planOf("q163_source_overlap")
    assert(p.contains("Generate"), p) // explode of per-shingle source pairs
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q165 containment candidates come from hash joins with the native verify") {
    val p = planOf("q165_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("sorted_intersect_count"), p)
  }

  test("q184 fuzzy linkage blocks via broadcast equi-joins, never listings x catalog") {
    val p = planOf("q184_fuzzy_link")
    assert(p.contains("BroadcastHashJoin"), p) // (first-char, length) blocks
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q188 importance scoring broadcasts the 256-row ratio table against one corpus scan") {
    val p = planOf("q188_importance_score")
    // the per-doc bucket relation is cached; ratios and the lang join are
    // the only joins touching it — all broadcast, corpus never reshuffled
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q190 power iteration: one corpus aggregate, zero corpus joins") {
    val p = planOf("q190_power_iteration")
    // the moment matrix, linear sums, and vector count come from ONE wide
    // hash aggregate over a single explode — the corpus is never joined
    // (the round-6 vec_id self-join is gone); every join in the plan
    // (linj unpivot + three matvec iterations) broadcasts 64-row relations
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }


  test("q191 exclusive blame scans the fact table once (pair grain cached), supplier broadcasts") {
    val p = planOf("q191_exclusive_blame")
    assert(p.contains("InMemoryTableScan"), p) // pair-grain agg reused twice
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q195 association rules: pair support is a codegen'd basket self-join, no interpreted lambdas") {
    // Round 9 moved pair generation from the collect_list + nested-
    // transform comprehension (interpreted HOF eval dominated the query)
    // to a basket-keyed self-equi-join of the CACHED frequent-item frame:
    // identical A-Priori-pruned candidate volume (sum f_b² vs sum C(f_b,2)
    // — never a corpus square; the join key is the basket id), but the
    // whole pair path now runs inside whole-stage codegen (3.3 → 2.1 s
    // isolated at sf0.1). The only nested-loop join is the 1-row
    // order-count broadcast.
    val p = planOf("q195_association_rules")
    assert(p.contains("InMemoryTableScan"), p) // fb cached, feeds BOTH join sides
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p) // the interpreted pair explode is gone
  }

  test("q192 KS drift: both cumulative windows are partitioned (globalCumSum shape)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = queries.Registry.all.find(_.name == "q192_ks_drift").get
      .run(spark, dir).queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window nodes in the cumsum")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in: $windows")
  }

  test("NO query plans the exact-percentile aggregate (a group's whole column in one reducer)") {
    // percentile() is a TypedImperativeAggregate that BUFFERS every value
    // of a group inside the final reducer — the one registered plan shape
    // that would not survive 100x (rounds 4-6 perf_weak). The surface now
    // routes exact percentiles through Ranks.interpolatedPercentiles
    // (distributed selection); approx_percentile's bounded mergeable
    // sketch remains allowed. (Whole-surface sweeps sit at the END of this
    // suite: running every query populates their .cache() relations, which
    // would fold earlier tests' expected operators into InMemoryRelations.)
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val offenders = queries.Registry.all.flatMap { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan
      val bad = collectWithSubqueries(plan) {
        case a: BaseAggregateExec if a.aggregateExpressions
          .exists(_.aggregateFunction.isInstanceOf[Percentile]) => a
      }
      if (bad.nonEmpty) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"exact Percentile aggregate in: $offenders")
  }

  test("NO query in the entire surface plans an unpartitioned WindowExec") {
    // the COVERAGE invariant, now CHECKED: a WindowExec with an empty
    // partitionSpec moves all rows to one task ("No Partition Defined"
    // warning) — the 100 TB anti-pattern. Spark 4's EliminateWindowPartitions
    // strips foldable keys, so partitionBy(lit(0)) silently lands here; the
    // Ranks offsets windows use a non-foldable constant key instead
    // (Ranks.const0), and this sweep keeps the whole surface honest.
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = queries.Registry.all.flatMap { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan
      val bad = collectWithSubqueries(plan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"unpartitioned WindowExec in: $offenders")
  }

  test("NO query in the entire surface plans a CartesianProduct") {
    // the engine-wide invariant behind SCALE.md: every pairwise operator
    // blocks/buckets/broadcasts — an unpartitioned cartesian product means
    // a blocking predicate was lost. (BroadcastNestedLoopJoin with a tiny
    // build side is fine and intentional for grid gen / noise.)
    val offenders = queries.Registry.all.flatMap { q =>
      val plan = q.run(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q33 knn scores inside whole-stage codegen with the native dot product") {
    val df = queries.Registry.all.find(_.name == "q33_knn_brute").get.run(spark, dir)
    df.collect() // finalize the adaptive plan so codegen markers materialize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vector_dot"), p)
    assert(p.contains("*("), p) // whole-stage-codegen'd stages present
  }
}
