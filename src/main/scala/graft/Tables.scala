package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All query entry points receive `(spark, sfDir)` and read only these
  * tables — never synthesized inputs — so the DuckDB oracle sees byte-identical
  * source data. Column pruning + filter pushdown reach the parquet scan
  * automatically because everything downstream is declarative DataFrame API.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The testdata parquet files are written as a single row group, so the
    * scan cannot split — every downstream per-row operator would run on one
    * task no matter how many cores the session has. When the scan's
    * parallelism is far below the session's, redistribute once up front.
    * (On a real lake with many splits this no-ops; disable with
    * spark.graft.repartitionSmallScans=false.)
    */
  private def spread(spark: SparkSession, enabled: Boolean, df: DataFrame): DataFrame = {
    val want = spark.sparkContext.defaultParallelism
    if (enabled && df.rdd.getNumPartitions * 4 <= want) df.repartition(want) else df
  }

  /** Loaded frames are memoized per (session, dir, table): building one
    * costs a fresh file listing, footer read, and — for the `spread`
    * decision — a logical→physical conversion (`.rdd`), a few hundred ms
    * that every query would otherwise re-pay per referenced table. The
    * cached value is just an immutable plan; no data is pinned.
    *
    * Sessions are identified by a token minted from a WeakHashMap keyed on
    * the session OBJECT (SparkSession does not override equals, so matching
    * is identity). Tokens never repeat, so — unlike identityHashCode, which
    * a fresh session can share with a GC'd one — a new session can never
    * receive a dead session's plan. The token map's values are plain Longs
    * with no back-reference to the session, so its entries genuinely die
    * with the session. (Caching the DataFrame against the session in the
    * WeakHashMap directly would NOT collect: a plan strongly references its
    * session, pinning the weak key through the value.) The plan cache is
    * bounded by the coarse clear below; a concurrent load racing that clear
    * at worst rebuilds one plan — it can never cross sessions.
    *
    * The spread conf is part of the key, so flipping
    * spark.graft.repartitionSmallScans mid-session takes effect on the next
    * load instead of being frozen at first use.
    */
  private val sessionTokens = new IdentityTokens[SparkSession]

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String, String, Boolean), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // coarse bound: long-lived JVMs cycling many sessions must not pin
    // every dead session's plans until process exit
    if (cache.size > 256) cache.clear()
    val enabled = spark.conf.getOption("spark.graft.repartitionSmallScans")
      .forall(_.toBoolean)
    cache.computeIfAbsent((sessionTokens.of(spark), dir, name, enabled),
      _ => spread(spark, enabled, loadRaw(spark, dir, name)))
  }

  /** Loads one row of every table under `dir`, so a bench's first timed
    * query does not pay the file listings and footer reads. A table missing
    * at this scale factor is skipped (NonFatal only: an OOM is not).
    */
  def warm(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      try load(spark, dir, n).limit(1).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** `load` without the `spread` repartition. For subtrees that re-execute
    * per iteration inside a recursive CTE's UnionLoop: there the spread's
    * round-robin exchange is re-paid at EVERY recursion level, while the
    * level's own join exchange already redistributes the rows — so the
    * spread buys no parallelism and multiplies its shuffle by the depth.
    */
  def loadNoSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((sessionTokens.of(spark), dir, name + "#nospread", false),
      _ => loadRaw(spark, dir, name))

  private def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations and TIMESTAMP(MICROS) in others; handle both. NANOS the
      // vectorized reader rejects, so it is read as a nanos long and
      // truncated to microseconds — the same value DuckDB (no ns timestamp
      // at read in 1.x) presents to the oracle; integer DIV keeps the
      // 1e18-scale nanos exact (a double round trip would lose precision
      // past 2^53). MICROS arrives as TIMESTAMP_NTZ (isAdjustedToUTC=false)
      // and is cast to the session-zone TIMESTAMP every downstream consumer
      // and spec fixture already types against — value-preserving because
      // all graft sessions pin UTC.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
}

/** Mints a process-unique Long per object identity. Backed by a WeakHashMap
  * whose values are plain Longs (no back-reference to the key), so entries
  * die when the object is collected — and because tokens never repeat, a
  * token-keyed cache can never hand a new object a dead object's entry,
  * which an identityHashCode key could (hash codes recur after GC).
  */
private[graft] final class IdentityTokens[K <: AnyRef] {
  private val tokens = new java.util.WeakHashMap[K, java.lang.Long]()
  private val next = new java.util.concurrent.atomic.AtomicLong()
  def of(k: K): Long = tokens.synchronized {
    var t = tokens.get(k)
    if (t == null) { t = next.incrementAndGet(); tokens.put(k, t) }
    t
  }
}
