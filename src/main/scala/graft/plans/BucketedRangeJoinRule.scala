package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.GeoCells

/** Optimizer rule: rewrite a haversine range predicate over a cross join
  * into a geo-cell-bucketed equi-join.
  *
  *   Filter(haversine(latA, lonA, latB, lonB) <= r)
  *     Join(Cross)                                    // |L| x |R| pairs
  * becomes
  *   Filter(same predicate)
  *     Join(Inner, cell_i = cell_i && cell_j = cell_j)
  *       Project(L, (cell_i, cell_j) = the point's GeoCells(r) key)
  *       Generate(explode R's GeoCells(r) neighbour keys)
  *
  * on the cells `Noise.groundNoiseBucketed` joins on; `graft.functions.GeoCells`
  * holds their recall proof. The proof needs valid latitudes, so the rewrite
  * splits rows by a runtime guard instead of assuming a domain:
  *
  *   bucketed(goodL ⋈ goodR)  ∪  exact(badL × all R)  ∪  exact(goodL × badR)
  *
  * where good = |lat| <= 90. The three branches are disjoint and cover every
  * pair, the exact haversine predicate applies in all of them, and rows with
  * a null latitude, which the original filter drops, are in none of them:
  * semantics are identical at ANY latitude/longitude. Valid data puts every
  * row in the bucketed branch. What changes is the physical shape: an
  * equi-join on the cell key instead of an O(|L| x |R|) nested-loop cross
  * join — the difference between feasible and not at 100 TB. The rewrite
  * carries no join hint, so the planner picks the join: it broadcasts a
  * small side, as `Noise.groundNoiseBucketed` always does, and shuffles both
  * sides on the cell key into a sort-merge join when neither is small.
  *
  * The haversine cutoff may be one conjunct of a larger condition (e.g.
  * `Noise.groundNoise`'s reach window ANDed before it): the rule finds it
  * among the conjuncts and re-applies the whole condition, in its original
  * order, in every branch. The branches avoid re-matching this rule by
  * phrasing the cutoff as `r >= haversine(...)` (semantically identical,
  * structurally distinct).
  *
  * Packaged as a `Rule[LogicalPlan]`, so ANY naive cross-join +
  * haversine-cutoff query picks it up. Install via
  * `spark.experimental.extraOptimizations` or the `graft.GraftExtensions`
  * session extension.
  */
object BucketedRangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Max radius (m) the rewrite accepts — beyond this the cells grow so
    * coarse that bucketing stops pruning and the cross join is no worse.
    */
  private val MaxRadiusM = 500000.0

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // shape 1: Filter above a condition-less cross join
    case Filter(RangeCondition(m), join @ Join(left, right, Cross | Inner, None, _))
        if applies(left, right, m) =>
      rewrite(m, join)
    // shape 2: the optimizer already pushed the predicate into the join
    case join @ Join(left, right, Cross | Inner, Some(RangeCondition(m)), _)
        if applies(left, right, m) =>
      rewrite(m, join.copy(condition = None))
  }

  /** A deterministic condition with one conjunct `haversine(...) <= r`
    * (0 < r <= MaxRadiusM): its four attributes, the radius, and the whole
    * condition, conjuncts in their original order, with that conjunct
    * flipped to `r >= haversine(...)` (semantically identical, structurally
    * distinct, so the rule's own output never re-matches).
    */
  private case class RangeMatch(latA: Attribute, lonA: Attribute,
      latB: Attribute, lonB: Attribute, r: Double, flipped: Expression)

  private object RangeCondition {
    def unapply(cond: Expression): Option[RangeMatch] =
      if (!cond.deterministic) None
      else {
        val conjuncts = splitConjunctivePredicates(cond)
        conjuncts.zipWithIndex.collectFirst {
          case (LessThanOrEqual(h @ HaversinePattern(latA, lonA, latB, lonB), lit @ Literal(r: Double, DoubleType)), i)
              if r > 0 && r <= MaxRadiusM =>
            RangeMatch(latA, lonA, latB, lonB, r,
              conjuncts.updated(i, GreaterThanOrEqual(lit, h)).reduce(And))
        }
      }
  }

  /** The haversine's two points sit on opposite sides, and no conjunct gives
    * the join an equi-join key: a join that already pairs rows on a key
    * (such as `Noise.groundNoiseBucketed`'s cell join) is not a cross join.
    */
  private def applies(left: LogicalPlan, right: LogicalPlan, m: RangeMatch): Boolean = {
    import m.{latA, lonA, latB, lonB}
    val sidesMatch = (left.outputSet.contains(latA) && left.outputSet.contains(lonA) &&
      right.outputSet.contains(latB) && right.outputSet.contains(lonB)) ||
      (left.outputSet.contains(latB) && left.outputSet.contains(lonB) &&
        right.outputSet.contains(latA) && right.outputSet.contains(lonA))
    sidesMatch && ExtractEquiJoinKeys.unapply(
      Join(left, right, Inner, Some(m.flipped), JoinHint.NONE)).isEmpty
  }

  private def rewrite(m: RangeMatch, join: Join): LogicalPlan = {
    import m.{latA, lonA, latB, lonB}
    val (left, right) = (join.left, join.right)
    // orient the pairs to their sides
    val (latL, lonL, latR, lonR) =
      if (left.outputSet.contains(latA)) (latA, lonA, latB, lonB)
      else (latB, lonB, latA, lonA)
    val cells = GeoCells(m.r)

    // runtime guard: rows the cells' recall proof covers
    def isGood(lat: Attribute): Expression = LessThanOrEqual(Abs(lat), Literal(90.0))

    // --- branch 1: bucketed equi-join over the guarded rows ---
    val (cellI, cellJ) = cells.key(latL, lonL)
    val lCells = Seq(Alias(cellI, "__cell_i")(), Alias(cellJ, "__cell_j")())
    val newLeft = Project(left.output ++ lCells, Filter(isGood(latL), left))
    // right side: explode each guarded row into its neighbour keys
    val rCells = Seq("__rcell_i", "__rcell_j").map(AttributeReference(_, LongType)())
    def explode(e: Expression, out: Attribute, child: LogicalPlan) =
      Generate(Explode(e), Nil, outer = false, qualifier = None, Seq(out), child)
    val bands = explode(cells.neighbourBands(latR), rCells(0), Filter(isGood(latR), right))
    val nl = Alias(cells.nLon(rCells(0)), "__nl")()
    val newRight = explode(cells.neighbourRings(lonR, nl.toAttribute), rCells(1),
      Project(bands.output :+ nl, bands))
    val joinCond = lCells.zip(rCells).map { case (l, r) => EqualTo(l.toAttribute, r) }.reduce(And)
    // every branch re-applies the whole condition with the cutoff flipped,
    // so this rule's own output can never re-match shape 1/2 on a later
    // fixpoint pass
    val cond = m.flipped
    val bucketed = Join(newLeft, newRight, Inner, Some(joinCond), JoinHint.NONE)
    // original predicate still applies inside buckets; drop the helper cols
    val branchBucketed = Project(join.output, Filter(cond, bucketed))

    // --- branches 2+3: exact path for rows with an invalid latitude ---
    def exactBranch(l: LogicalPlan, rgt: LogicalPlan): LogicalPlan = {
      val joined = Join(l, rgt, Inner, None, JoinHint.NONE)
      // fresh output aliases: Union children must not share attribute ids
      // with the first branch
      Project(join.output.map(a => Alias(a, a.name)()),
        Filter(cond, joined))
    }
    val branchBadLeft = exactBranch(Filter(Not(isGood(latL)), left), right)
    val branchBadRight = exactBranch(Filter(isGood(latL), left), Filter(Not(isGood(latR)), right))

    Union(Seq(branchBucketed, branchBadLeft, branchBadRight))
  }
}

/** Structural matcher for the haversine great-circle expression
  * `lit(2R) * asin(sqrt(sin²(Δlat/2) + cos(lat1)cos(lat2)sin²(Δlon/2)))`
  * over four attribute references. Extracts (latA, lonA, latB, lonB): the
  * two attributes appearing inside `cos(radians(x))` are the latitudes; the
  * subtraction not made of latitudes yields the longitudes.
  */
object HaversinePattern {
  def unapply(e: Expression): Option[(Attribute, Attribute, Attribute, Attribute)] = e match {
    case Multiply(Literal(scale: Double, DoubleType), asin: Asin, _)
        if scale > 2 * 6.0e6 && scale < 2 * 6.8e6 =>
      val lats: Seq[Attribute] = asin.collect {
        case Cos(ToRadians(a: Attribute)) => a
      }.distinct
      val subs: Seq[(Attribute, Attribute)] = asin.collect {
        case Subtract(b: Attribute, a: Attribute, _) => (a, b)
      }.distinct
      (lats, subs) match {
        case (Seq(lat1, lat2), ss) if ss.size == 2 =>
          ss.find { case (a, b) =>
            !Set(lat1.exprId, lat2.exprId).contains(a.exprId) &&
              !Set(lat1.exprId, lat2.exprId).contains(b.exprId)
          }.map { case (lonA, lonB) =>
            // orient longitudes to their latitudes: radians(latB - latA) and
            // radians(lonB - lonA) subtract in the same order
            val latOrder = ss.find { case (a, _) =>
              Set(lat1.exprId, lat2.exprId).contains(a.exprId)
            }
            latOrder match {
              case Some((latA: Attribute, _)) if latA.exprId == lat1.exprId =>
                (lat1, lonA, lat2, lonB)
              case Some((latA: Attribute, _)) if latA.exprId == lat2.exprId =>
                (lat2, lonA, lat1, lonB)
              case _ => (lat1, lonA, lat2, lonB)
            }
          }
        case _ => None
      }
    case _ => None
  }
}
