package graft

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{BucketedRangeJoinRule, HashedShingles, MinhashFamily, RollingWindowHashes, SimHash64, SlidingMin, SortedLongArrayIntersectCount, VectorDotProduct, WindowSubstrings, WinnowFingerprints, WordGrams}

/** SparkSessionExtensions hook registering graft's native expressions and
  * optimizer rules. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — for any
  * graft main, `SPARK_GRAFT_CONF="spark.sql.extensions=graft.GraftExtensions"`
  * (see [[Session]]) — or `.withExtensions(new GraftExtensions)` on a
  * builder; for a session that already exists (extensions only apply at
  * session build), use [[GraftExtensions.installInto]].
  * (The Column API in graft.plans works without registration; the range-join
  * rewrite can also be installed per-session via
  * `spark.experimental.extraOptimizations`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => BucketedRangeJoinRule)
  }
}

object GraftExtensions {

  /** The SQL-callable native functions: name, info, builder. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("sorted_intersect_count",
      new ExpressionInfo(classOf[SortedLongArrayIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) =>
        SortedLongArrayIntersectCount(children(0), children(1))),
    ("vector_dot",
      new ExpressionInfo(classOf[VectorDotProduct].getName, "vector_dot"),
      (children: Seq[Expression]) => VectorDotProduct(children(0), children(1))),
    ("rolling_window_hashes",
      new ExpressionInfo(classOf[RollingWindowHashes].getName, "rolling_window_hashes"),
      (children: Seq[Expression]) =>
        RollingWindowHashes(children(0), literalWindow(children(1), "rolling_window_hashes"))),
    // the r15 native text/array pipeline expressions — same literal-window
    // convention: f(col, N)
    ("window_substrings",
      new ExpressionInfo(classOf[WindowSubstrings].getName, "window_substrings"),
      (children: Seq[Expression]) =>
        WindowSubstrings(children(0), literalWindow(children(1), "window_substrings"))),
    ("winnow_fingerprints",
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) =>
        WinnowFingerprints(children(0), literalWindow(children(1), "winnow_fingerprints"))),
    ("sliding_min",
      new ExpressionInfo(classOf[SlidingMin].getName, "sliding_min"),
      (children: Seq[Expression]) =>
        SlidingMin(children(0), literalWindow(children(1), "sliding_min"))),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) =>
        SimHash64(children(0), literalWindow(children(1), "simhash64"))),
    // r16 minhash-surface expressions: hashed_shingles(text, k[, sep]) and
    // minhash_family(array<bigint>) — same literal-argument convention
    ("hashed_shingles",
      new ExpressionInfo(classOf[HashedShingles].getName, "hashed_shingles"),
      (children: Seq[Expression]) => HashedShingles(children(0),
        literalWindow(children(1), "hashed_shingles"),
        if (children.size > 2) literalSep(children(2)) else ' ')),
    ("minhash_family",
      new ExpressionInfo(classOf[MinhashFamily].getName, "minhash_family"),
      (children: Seq[Expression]) => MinhashFamily(children(0))),
    ("word_grams",
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      (children: Seq[Expression]) => WordGrams(children(0),
        literalWindow(children(1), "word_grams"),
        if (children.size > 2) literalSep(children(2)) else ' ')))

  /** The separator argument is a single-character SQL string literal. */
  private def literalSep(e: Expression): Char = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String if s.numChars() == 1 =>
      s.toString.charAt(0)
    case other => throw new IllegalArgumentException(
      s"hashed_shingles separator must be a 1-char string literal, got $other")
  }

  /** The window/length argument is a SQL literal: f(col, 20). */
  private def literalWindow(e: Expression, fn: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn window must be an integer literal, got $other")
  }

  /** Register the functions and the range-join rule on an ALREADY-BUILT
    * session (extensions declared at build time don't help a session someone
    * else constructed — e.g. a shared notebook session or a test fixture).
    */
  def installInto(spark: SparkSession): Unit = {
    functions.foreach { case (name, info, builder) =>
      GraftBridge.registerFunction(spark, name, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(BucketedRangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
  }
}
