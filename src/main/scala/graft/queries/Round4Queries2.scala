package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det
import graft.functions.HashFunctions
import graft.operators.{Ranks, Sketches}

/** Round-4 surface, second tranche: char-level exact-substring dedup,
  * sketch-verified heavy hitters, histograms, robust statistics, a one-pass
  * correlation matrix, and one-pass column profiling.
  * Determinism per [[graft.functions.Det]].
  */
object Round4Queries2 {

  private def h32(x: String): String = s"(('0x' || substr(md5($x), 1, 8))::BIGINT)"

  /** Char-level exact-substring duplication (RefinedWeb/C4-style substring
    * remover at its native granularity): every length-20 character window at
    * stride 1, hashed 32-bit; a window shared by ≥2 distinct documents marks
    * duplicated text at that exact position. Emits per-document window
    * counts and the duplicated fraction — the statistic an exact-substring
    * scrubber thresholds on. Windows shuffle as hashes only; the text itself
    * never leaves the scan. (q118 is the disjoint word-segment variant; this
    * is the stride-1 char form that catches duplicated runs at ANY offset.)
    *
    * The 32-bit hash trades ~n²/2³³ birthday-collision false "shared"
    * windows for halved shuffle width (2 observed at 150k windows) — both
    * engines share the identical truncation, so the oracle matches exactly.
    * For collision-free marking at scale, widen the key or exact-verify the
    * marked spans; [[graft.plans.RollingWindowHashes]] is the codegen'd
    * 64-bit O(n) route (bench variant in CorpusScaleBench).
    */
  val q121SubstringDedup: QueryDef = QueryDef(
    "q121_substring_dedup",
    (s, dir) => {
      val L = 20
      // cache: the gram table feeds both the shared-detector aggregate and
      // the per-doc join (protocol #6 — never re-derive per-row md5 chains)
      val grams = Tables.load(s, dir, "documents")
        .filter(length(col("text")) >= L)
        // window extraction through the native boundary-slicing
        // expression (r15): the compositional
        // transform(sequence, i -> substring(text, i, L)) re-scanned the
        // string from its start per position — O(n²) per document
        .select(col("doc_id"),
          explode(graft.plans.WindowSubstrings(col("text"), L)).as("gram"))
        .select(col("doc_id"), HashFunctions.hash32(col("gram")).as("gh"))
        .transform(graft.operators.ScopedCache.cache)
      val shared = grams.groupBy("gh")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gh"), lit(1).as("is_shared"))
      grams.join(shared, Seq("gh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"), count(col("is_shared")).as("n_dup"))
        .select(col("doc_id"), col("n_win"), col("n_dup"),
          Det.rdet(col("n_dup").cast("double") / col("n_win"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH pos AS (
        SELECT doc_id, text, unnest(generate_series(1, len(text) - 19)) AS i
        FROM documents WHERE len(text) >= 20),
      grams AS (
        SELECT doc_id, ${h32("substr(text, i, 20)")} AS gh FROM pos),
      shared AS (SELECT gh, 1 AS is_shared FROM grams GROUP BY gh
                 HAVING count(DISTINCT doc_id) >= 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_win,
             CAST(count(shared.is_shared) AS BIGINT) AS n_dup,
             floor((CAST(count(shared.is_shared) AS DOUBLE) / count(*)) * 1e6
               + 0.5) / 1e6 AS dup_frac
      FROM grams LEFT JOIN shared ON grams.gh = shared.gh
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Sketch-verified EXACT heavy hitters ([[graft.operators.Sketches]]):
    * corpus terms with frequency > n/30, found by bounded-memory per-
    * partition Misra–Gries summaries (superset guarantee) plus one exact
    * verify pass over the broadcast candidates — the oracle is the plain
    * full GROUP BY + HAVING, which the engine never has to run. At 100 TB
    * vocabulary the full distinct aggregation is the bottleneck this shape
    * deletes: the only wide operation is keyed by ≤ (k−1)·numPartitions
    * candidate terms.
    */
  val q122HeavyHitters: QueryDef = QueryDef(
    "q122_heavy_hitters",
    (s, dir) => {
      val words = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      Sketches.heavyHitters(words, col("word"), 30)
        .select(col("item").as("word"), col("cnt"))
        .orderBy("word")
    },
    Some("""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      nz AS (SELECT word FROM w WHERE word != ''),
      t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM nz)
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM nz CROSS JOIN t
      GROUP BY word, total HAVING count(*) * 30 > total
      ORDER BY word"""))

  /** Equi-width histogram over order prices: bucket = floor(v/5000) clamped
    * to [0,19] (pure shared-IEEE arithmetic — no engine-specific
    * width_bucket), one hash aggregate, map-side combinable: the profile/
    * distribution primitive every ingest pipeline runs first.
    */
  val q124Histogram: QueryDef = QueryDef(
    "q124_histogram",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(least(floor(col("l_extendedprice") / 5000.0d), lit(19.0d))
          .cast("long").as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice")).as("price_sum"))
        .select(col("bucket"), (col("bucket") * 5000.0d).as("lo"), col("n"),
          col("price_sum"))
        .orderBy("bucket")
    },
    Some(s"""
      SELECT bucket, bucket * 5000.0e0 AS lo, CAST(count(*) AS BIGINT) AS n,
             ${Det.dsumSql("l_extendedprice")} AS price_sum
      FROM (SELECT CAST(least(floor(l_extendedprice / 5000.0e0), 19.0e0) AS BIGINT)
                     AS bucket, l_extendedprice
            FROM lineitem)
      GROUP BY bucket ORDER BY bucket"""))

  /** Robust statistics: per-flag median and median-absolute-deviation with
    * RANK semantics (the element at in-group rank ceil(n/2) — integer rank
    * selection, so both engines pick the identical element; no
    * interpolation, no float percentile). Both passes run on
    * [[graft.operators.Ranks.selectByRank]] — distributed SELECTION: bucket
    * counts locate the median's bucket, and only that bucket's rows (~n/B)
    * ever see a window, versus ranking the entire group (3 giant groups
    * would degenerate a partitioned window to 3 tasks, and even the
    * distributed full rank sorts everything). MAD is THE outlier-resistant
    * spread measure a data-quality pipeline wants when means are
    * skew-poisoned.
    */
  val q125MadRobust: QueryDef = QueryDef(
    "q125_mad_robust",
    (s, dir) => {
      // cache: each selection pass scans its input twice (extremes + bucket
      // counts) plus the pruned window; the deviation input embeds the whole
      // first pass
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
        .transform(graft.operators.ScopedCache.cache)
      // ceil(n/2) = (n+1) div 2; the double-typed '/' is exact below 2^53
      val med = Ranks.selectByRank(li, Seq(col("flag")),
          Seq(col("v"), col("l_orderkey"), col("l_linenumber")),
          n => floor((n + 1L) / 2L).cast("long"), "r")
        .select(col("flag"), col("v").as("med"))
      val dev = li.join(broadcast(med), "flag")
        .select(col("flag"), abs(col("v") - col("med")).as("d"),
          col("l_orderkey"), col("l_linenumber"), col("med"))
        .transform(graft.operators.ScopedCache.cache)
      Ranks.selectByRank(dev, Seq(col("flag")),
          Seq(col("d"), col("l_orderkey"), col("l_linenumber")),
          n => floor((n + 1L) / 2L).cast("long"), "r")
        .select(col("flag"), col("med"), col("d").as("mad"))
        .orderBy("flag")
    },
    Some("""
      WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
                         l_orderkey, l_linenumber FROM lineitem),
      c AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY flag),
      r1 AS (SELECT flag, v, row_number() OVER (PARTITION BY flag
               ORDER BY v, l_orderkey, l_linenumber) AS r FROM li),
      med AS (SELECT r1.flag, v AS med FROM r1 JOIN c ON r1.flag = c.flag
              WHERE r = (n + 1) // 2),
      dev AS (SELECT li.flag, abs(v - med) AS d, l_orderkey, l_linenumber, med
              FROM li JOIN med ON li.flag = med.flag),
      r2 AS (SELECT flag, d, med, row_number() OVER (PARTITION BY flag
               ORDER BY d, l_orderkey, l_linenumber) AS r FROM dev)
      SELECT r2.flag AS flag, med, d AS mad FROM r2 JOIN c ON r2.flag = c.flag
      WHERE r = (n + 1) // 2 ORDER BY 1"""))

  /** Pairwise Pearson correlation matrix from ONE exact-moment pass —
    * quantity × price × discount collapse to integer moments (order-
    * independent int64 sums, the q116 OLS protocol), then each r is scalar
    * IEEE arithmetic both engines evaluate identically. At 100 TB the
    * correlation matrix of m columns is one map-side-combined aggregate of
    * m(m+1)/2 running sums — never m² passes.
    */
  val q126CorrMatrix: QueryDef = QueryDef(
    "q126_corr_matrix",
    (s, dir) => {
      val t = Tables.load(s, dir, "lineitem").select(
        floor(col("l_quantity") + 0.5).cast("long").as("a"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("b"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("c"))
      t.agg(
        count(lit(1)).as("n"),
        sum("a").as("sa"), sum("b").as("sb"), sum("c").as("sc"),
        sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
        sum(col("c") * col("c")).as("scc"), sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("c")).as("sac"), sum(col("b") * col("c")).as("sbc"))
        .createOrReplaceTempView("corr_m126")
      s.sql(corrSolveSql("corr_m126"))
    },
    Some(s"""
      WITH t AS (SELECT CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS a,
                        CAST(floor(l_extendedprice + 0.5e0) AS BIGINT) AS b,
                        CAST(floor(l_discount * 100 + 0.5e0) AS BIGINT) AS c
                 FROM lineitem),
      corr_m126 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
        CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(a*a) AS BIGINT) AS saa,
        CAST(SUM(b*b) AS BIGINT) AS sbb, CAST(SUM(c*c) AS BIGINT) AS scc,
        CAST(SUM(a*b) AS BIGINT) AS sab, CAST(SUM(a*c) AS BIGINT) AS sac,
        CAST(SUM(b*c) AS BIGINT) AS sbc FROM t)
      ${corrSolveSql("corr_m126")}"""))

  /** The correlation solve over a 1-row moments relation — shared verbatim
    * between spark.sql and the DuckDB oracle (the q116 technique), so the
    * scalar double math is the same expression text in both engines.
    */
  private def corrSolveSql(m: String): String = {
    def r(x: String, y: String, sx: String, sy: String, sxx: String, syy: String,
        sxy: String): String =
      s"""floor(((nD*${sxy}D - ${sx}D*${sy}D)
         | / (sqrt(nD*${sxx}D - ${sx}D*${sx}D) * sqrt(nD*${syy}D - ${sy}D*${sy}D)))
         | * 1e6 + 0.5e0) / 1e6 AS r_${x}${y}""".stripMargin.replace("\n", " ")
    s"""
      SELECT n, ${r("a", "b", "sa", "sb", "saa", "sbb", "sab")},
             ${r("a", "c", "sa", "sc", "saa", "scc", "sac")},
             ${r("b", "c", "sb", "sc", "sbb", "scc", "sbc")}
      FROM (SELECT n, CAST(n AS DOUBLE) AS nD,
              CAST(sa AS DOUBLE) AS saD, CAST(sb AS DOUBLE) AS sbD,
              CAST(sc AS DOUBLE) AS scD, CAST(saa AS DOUBLE) AS saaD,
              CAST(sbb AS DOUBLE) AS sbbD, CAST(scc AS DOUBLE) AS sccD,
              CAST(sab AS DOUBLE) AS sabD, CAST(sac AS DOUBLE) AS sacD,
              CAST(sbc AS DOUBLE) AS sbcD
            FROM $m) casts"""
  }

  /** One-pass column profiling — the schema-audit primitive: per column
    * (null count, distinct count, min, max as text) for a heterogeneous
    * column set, computed in a SINGLE scan + aggregate and unpivoted to one
    * row per column. Profiling m columns is one map-side-combined pass, not
    * m queries.
    */
  val q127ColumnProfile: QueryDef = QueryDef(
    "q127_column_profile",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val aggs = cols.flatMap { c =>
        Seq(count(lit(1)).minus(count(col(c))).cast("long").as(s"${c}__nulls"),
          countDistinct(col(c)).cast("long").as(s"${c}__distinct"),
          min(col(c).cast("string")).as(s"${c}__min"),
          max(col(c).cast("string")).as(s"${c}__max"))
      }
      val wide = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      wide.select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col("n_rows"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_text"),
          col(s"${c}__max").as("max_text"))): _*)).as("p"))
        .select("p.*")
        .orderBy("col_name")
    },
    Some {
      def one(c: String) = s"""
        SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               min(CAST($c AS VARCHAR)) AS min_text,
               max(CAST($c AS VARCHAR)) AS max_text
        FROM orders"""
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString(" UNION ALL ") + " ORDER BY col_name"
    })

  val all: Seq[QueryDef] =
    Seq(q121SubstringDedup, q122HeavyHitters, q124Histogram, q125MadRobust,
      q126CorrMatrix, q127ColumnProfile)
}
