package graft

import org.apache.spark.sql.functions._

/** Scale probe for the dedup / decontamination family: blow the `documents`
  * fixture up `replicas`× with deterministic word-level perturbations (every
  * replica is a NEAR-duplicate of its original — worst case for LSH: every
  * band bucket is a dense near-dup cluster, candidate volume ~ replicas² per
  * original), then time the operators end-to-end. Verifies the "no corpus
  * square" claims in SCALE.md hold when the candidate structure is hostile,
  * not just at fixture size.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_REPLICAS=20 sbt "runMain graft.CorpusScaleBench"
  */
object CorpusScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "20").toInt
    val cpus = Session.cpus
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.load(spark, sfDir, "documents")
    val nBase = base.count()
    // replica r of a doc: every (5 + r % 7)-th word gets a replica-specific
    // suffix — shingle overlap with the original stays high (near-dup) but
    // no two replicas are byte-identical
    val corpus = base.crossJoin(spark.range(replicas).toDF("r"))
      .select(
        (col("doc_id") * replicas + col("r")).as("doc_id"),
        concat_ws(" ", zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(pmod(i, lit(5) + pmod(col("r"), lit(7))) === 0 && col("r") =!= 0,
            concat(w, lit("x"), col("r"))).otherwise(w))).as("text"),
        col("lang"), col("source"),
        col("n_chars").as("n_chars_orig"))
      .withColumn("n_chars", length(col("text")))
      .drop("n_chars_orig")
      .repartition(cpus * 2)
      .cache()
    val nCorpus = corpus.count()

    // Every DataFrame below is timed through Bench.timeRows (Bench.time where
    // no row count is reported). The index writes and appends are not
    // DataFrames, and the recall probes collect the hit count they report,
    // so those keep their own clock.
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): (String, Double, Long) = {
      val (sec, rows) = Bench.timeRows(df)
      (label, sec, rows)
    }

    val results = Seq(
      time("exact_dedup")(operators.Dedup.exactDedup(corpus)),
      time("minhash_signatures")(operators.Dedup.minhashSignatures(corpus, shingleK = 3)),
      time("minhash_lsh_pairs")(
        operators.Dedup.minhashLsh(corpus, shingleK = 3, rowsPerBand = 2, threshold = 0.5)),
      time("simhash_banded_pairs")(
        operators.Dedup.simhash64BandedPairs(corpus, shingleK = 3, maxHamming = 3)),
      // incremental ingest: 1/replicas of the corpus checks against the rest
      // — the nightly-batch shape; history (19/20 of the corpus) never
      // self-pairs, so this must run well under the full LSH pair time
      time("delta_dedup_pairs")(
        operators.Dedup.deltaDedupPairs(
          corpus.filter(col("doc_id") % replicas === 0),
          corpus.filter(col("doc_id") % replicas =!= 0),
          shingleK = 3, rowsPerBand = 2, threshold = 0.5)),
      time("decontaminate")(
        operators.CorpusOps.decontaminate(
          corpus.filter(col("doc_id") % replicas =!= 0),
          base.filter(col("doc_id") % 20 === 0), 4)),
      time("winnowing")(operators.Dedup.winnowFingerprints(corpus, window = 8)),
      // char-level stride-1 exact-substring detector (q121's core): the
      // replicated corpus makes nearly every 20-char window shared, the
      // worst case for the shared-gram aggregate
      time("substring_dedup") {
        val grams = corpus
          .filter(length(col("text")) >= 20)
          // native O(n) window extraction — the r16 audit found the OLD
          // transform(sequence, i -> substring(text, i, 20)) form (O(n²)
          // per doc: each substring re-scans the UTF8String) surviving
          // here after q121 itself was converted
          .select(col("doc_id"),
            explode(graft.plans.WindowSubstrings(col("text"), 20)).as("gram"))
          .select(col("doc_id"), functions.HashFunctions.hash32(col("gram")).as("gh"))
          .cache()
        val shared = grams.groupBy("gh")
          .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
          .select(col("gh"), lit(1).as("is_shared"))
        grams.join(shared, Seq("gh"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_win"), count(col("is_shared")).as("n_dup"))
      },
      // same semantics through the native Rabin-Karp expression: one O(n)
      // codegen'd pass per doc instead of O(n*L) substring+md5 work
      time("substring_dedup_rolling") {
        val grams = corpus
          .filter(length(col("text")) >= 20)
          .select(col("doc_id"),
            explode(plans.RollingWindowHashes(col("text"), 20)).as("gh"))
          .cache()
        val shared = grams.groupBy("gh")
          .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
          .select(col("gh"), lit(1).as("is_shared"))
        grams.join(shared, Seq("gh"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_win"), count(col("is_shared")).as("n_dup"))
      },
      // Misra-Gries heavy hitters over every token of the blown-up corpus:
      // sketch memory stays O(k) per partition regardless of corpus size.
      // k=40 (2.5% threshold): the replica perturbation suffixes ~15% of
      // occurrences into a long tail, so base words sit near 3% of mass
      time("heavy_hitters") {
        operators.Sketches.heavyHitters(
          corpus.select(explode(split(col("text"), " ")).as("word"))
            .filter(col("word") =!= ""),
          col("word"), 40)
      },
      // prefix-filtered EXACT Jaccard join: the replicated corpus is its
      // hostile case — every replica cluster is a dense near-dup group, so
      // the TRUE result is ~base_docs x C(replicas, 2) pairs; the measure
      // of interest is that candidate volume tracks the (large) true-pair
      // volume rather than the corpus square
      time("setsim_prefix") {
        operators.Dedup.prefixJaccardPairs(corpus, 0.6)
      },
      // q135/q215/q217 substring-dedup family at corpus scale: the stride-1
      // window set is the repo's largest intermediate, consumed TWICE
      // (firsts aggregate + join back). Measure the cache-policy trade —
      // NOCACHE FIRST (so it cannot silently reuse the cached twin's data
      // via Spark's canonicalized-plan cache substitution), then cached,
      // then the actual text splice, which reuses the still-cached windows
      // exactly as a plan-then-materialize pipeline would.
      time("dup_span_plan_nocache")(
        operators.Dedup.dupSpanIntervals(corpus, 20, cacheWindows = false)),
      time("dup_span_plan_cached")(
        operators.Dedup.dupSpanIntervals(corpus, 20)),
      time("dup_span_splice")(operators.Dedup.removeDupSpans(corpus, 20)))

    // Persisted-LSH-index lifecycle at corpus scale, run as the NIGHTLY
    // LOOP it exists for: build once from the initial history, then N
    // successive ingests each probe their delta against the STORED index
    // and commit it (appendLshIndex) — so later probes answer against a
    // strictly larger history. The claim under measurement (SCALE.md):
    // per-ingest probe time tracks the delta's size and collision rate,
    // NOT the cumulative history volume — the stateless recompute
    // (delta_dedup_pairs above) re-hashes all of history every night and
    // is the growing-cost baseline.
    val nIngest = 4
    val history0 = corpus.filter(pmod(col("doc_id"), lit(replicas)) >= nIngest)
    val tBuild = System.nanoTime()
    operators.Dedup.writeLshIndex(history0, shingleK = 3, rowsPerBand = 2,
      indexTable = "csb_lsh_index", shingleTable = "csb_lsh_shingles")
    val buildRows = spark.table("csb_lsh_index").count()
    val buildSec = (System.nanoTime() - tBuild) / 1e9
    val ingestSteps = (0 until nIngest).map { r =>
      val delta = corpus.filter(col("doc_id") % replicas === r)
      val historyDocs = spark.table("csb_lsh_shingles").count()
      val (_, probeSec, pairRows) = time(s"probe_$r")(
        operators.Dedup.probeLshIndex(delta, shingleK = 3, rowsPerBand = 2,
          threshold = 0.5,
          indexTable = "csb_lsh_index", shingleTable = "csb_lsh_shingles"))
      val tApp = System.nanoTime()
      operators.Dedup.appendLshIndex(delta, shingleK = 3, rowsPerBand = 2,
        indexTable = "csb_lsh_index", shingleTable = "csb_lsh_shingles")
      val appendSec = (System.nanoTime() - tApp) / 1e9
      (r, historyDocs, probeSec, pairRows, appendSec)
    }
    val indexResults = Seq(
      ("lsh_index_build", buildSec, buildRows),
      ("lsh_index_probe", ingestSteps.head._3, ingestSteps.head._4))

    // Sim64 persisted-index lifecycle (q347's machinery — the video
    // modality's incremental path): the same nightly write → probe →
    // append loop over the generic banded 64-bit index. The fingerprint
    // SOURCE differs per modality (MP4 keyframe walk for video,
    // frame-energy for audio, simhash for text — used here, since the
    // banded-index code under measurement is identical and corpus-scale
    // MP4 synthesis would measure the codec, not the index). The claim is
    // the same as the LSH loop's: probe cost tracks the DELTA, not the
    // growing history.
    val sim64All = operators.Dedup.simhash64Table(corpus, shingleK = 3)
      .repartition(cpus * 2)
      .cache()
    sim64All.count()
    val s64History0 = sim64All.filter(pmod(col("doc_id"), lit(replicas)) >= nIngest)
    val tS64 = System.nanoTime()
    operators.Dedup.writeSim64Index(s64History0, indexTable = "csb_sim64_index")
    val s64BuildRows = spark.table("csb_sim64_index").count()
    val s64BuildSec = (System.nanoTime() - tS64) / 1e9
    val sim64Steps = (0 until nIngest).map { r =>
      // 4 banded rows per indexed doc
      val indexedDocs = spark.table("csb_sim64_index").count() / 4
      val delta = sim64All.filter(col("doc_id") % replicas === r)
      val (probeSec, pairRows) = Bench.timeRows(operators.Dedup.probeSim64Index(
        delta, maxHamming = 3, indexTable = "csb_sim64_index"))
      val tApp = System.nanoTime()
      operators.Dedup.appendSim64Index(delta, indexTable = "csb_sim64_index")
      val appendSec = (System.nanoTime() - tApp) / 1e9
      (r, indexedDocs, probeSec, pairRows, appendSec)
    }
    sim64All.unpersist()
    // ANN recall at corpus scale, measured in TWO regimes of the same
    // replica construction. vec_id = r * nBase + base, so the low ids
    // (queries, vec_id < nQ; Lloyd seeds, vec_id < kClusters) are the
    // r = 0 copies of DISTINCT base vectors — recall is measured across
    // the base distribution and the quantizer seeds span it. The
    // perturbation carries an r-proportional term on top of the mod-11
    // dither, so replicas r and r + 11 differ.
    //
    //   - neardup (dither 0.003/dim ≈ L2 0.07 per replica cloud, vs ~1.08
    //     between the unit-norm 64-dim bases): every cloud is a tight
    //     island, a trained quantizer keeps islands whole, and nprobe = 1
    //     already reads the query's entire top-k — IVF's best case, the
    //     structure embedding-dedup corpora actually have.
    //   - boundary (dither 0.010/dim ≈ L2 0.25): clouds stay coherent but
    //     straddle cell boundaries, so recall climbs with nprobe — the
    //     classic IVF curve, the regime where multiprobe earns its cost.
    //   - diffuse (dither 0.025/dim ≈ L2 0.6, comparable to the base
    //     spacing): neighborhoods smear across many cells of the
    //     64-dim space — recall plateaus well below 1 regardless of a few
    //     extra probes, the curse-of-dimensionality hard case that says
    //     when IVF needs more cells probed (or a better index) rather
    //     than pretending recall is free.
    val embReplicas = sys.env.getOrElse("SPARK_GRAFT_EMB_REPLICAS", "50").toInt
    val embBase = Tables.load(spark, sfDir, "embeddings")
    val nBaseVecs = embBase.count()
    val nQ = 20
    val topK = 10
    var nVecs = 0L
    def annPass(dither: Double, settings: Seq[(Int, Int)])
        : (Double, Seq[(Int, Int, Double, Double)]) = {
      val embCorpus = embBase
        .crossJoin(spark.range(embReplicas).toDF("r"))
        .select(
          (col("r") * nBaseVecs + col("vec_id")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((pmod(col("r") * 7 + i, lit(11)) - 5) * lit(dither) +
              col("r") * lit(1.0e-4d)).cast("float"))
            .as("embedding"),
          col("label"))
        .repartition(cpus * 2)
        .cache()
      nVecs = embCorpus.count()
      // ONE brute pass: the timed materialization IS the ground truth
      val truth = operators.Similarity.topKBruteL2(embCorpus, nQ, topK)
        .select(col("q_id"), col("vec_id")).cache()
      val bruteSec = Bench.time(truth)
      // NOTE: each kClusters' FIRST run also pays its (cached) Lloyd fit;
      // the fit is shared across same-k settings via KMeans' fit
      // memoization, so later deltas at that k are pure probe cost.
      val curve = settings.map { case (kc, nprobe) =>
        val t0 = System.nanoTime()
        val probed = operators.Similarity.topKIvfMultiprobe(
          embCorpus, nQ, topK, kClusters = kc, iters = 2, nprobe = nprobe)
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
        val hits = truth.join(probed, Seq("q_id", "vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0L)))).collect()(0).getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        (kc, nprobe, sec, hits.toDouble / (nQ * topK))
      }
      truth.unpersist(); embCorpus.unpersist()
      (bruteSec, curve)
    }
    val baseSettings = Seq((32, 1), (32, 2), (32, 4))
    val annRegimes =
      Seq("neardup" -> 0.003, "boundary" -> 0.010, "diffuse" -> 0.025).map {
        case (name, dither) => name -> annPass(dither, baseSettings)
      }
    // SemDeDup at corpus scale (round 14): k derives from corpus size
    // (k = max(4, ceil(n/target))), so within-cluster pair mass stays
    // ~n*target instead of Sigma c^2 -> n^2 as replicas grow, and the
    // dominator cap's drop count is OBSERVED, never silent. Reported:
    // k, the observed drops, and wall seconds over the replica corpus
    // (the near-dup clouds are SemDeDup's own target structure).
    val semdedup = {
      val dither = 0.003
      val embCorpus = embBase
        .crossJoin(spark.range(embReplicas).toDF("r"))
        .select(
          (col("r") * nBaseVecs + col("vec_id")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((pmod(col("r") * 7 + i, lit(11)) - 5) * lit(dither) +
              col("r") * lit(1.0e-4d)).cast("float"))
            .as("embedding"),
          col("label"))
        .repartition(cpus * 2)
        .cache()
      val nV = embCorpus.count()
      val target = 512
      val kDerived = math.max(4L, (nV + target - 1) / target)
      val obs = new org.apache.spark.sql.Observation("semdedup_caps")
      val (sec, keptRows) = Bench.timeRows(operators.Similarity.semanticDedup(embCorpus,
        targetClusterSize = target, maxDominators = 4096, threshold = 0.35,
        drops = Some(obs)).filter(col("kept") === 1))
      val m = obs.get
      embCorpus.unpersist()
      (nV, kDerived, keptRows, sec,
        m.getOrElse("dominator_drops", 0L).asInstanceOf[Long],
        m.getOrElse("n_vectors", nV).asInstanceOf[Long])
    }
    // DIFFUSE-REGIME FIX (round-8 finding: recall plateaus ~0.72 at
    // nprobe <= 4 with k=32 once clouds smear to the base spacing): the
    // named fixes, measured — probe MANY more cells at the same quantizer
    // (k=32, nprobe 8/16) and a FINER quantizer probed proportionally
    // (k=128, nprobe 8/16/32). Same corpus construction, same ground
    // truth; recall target >= 0.9 with the probe-cost delta stated.
    val diffuseFix = annPass(0.025,
      Seq((32, 8), (32, 16), (128, 8), (128, 16), (128, 32)))
    // Persisted-ANN-index lifecycle at corpus scale (round 13), run as the
    // nightly loop it exists for — the vector twin of the LSH ingest loop
    // above. Build the codes/vector/centroid tables from the initial
    // history, then each ingest probes the SAME query set against the
    // stored index before appending its delta (appendAnnIndex assigns to
    // the stored centroids — never re-trains). The claim (SCALE.md): probe
    // cost stays ~flat while the indexed corpus grows — stage 1 scans the
    // 2-byte code column, stage 2 fetches only the shortlist — whereas the
    // stateless topKPqRerank re-derives codes from the full vector column
    // every call.
    val annIngest = {
      val dither = 0.010
      val embCorpus = embBase
        .crossJoin(spark.range(embReplicas).toDF("r"))
        .select(
          (col("r") * nBaseVecs + col("vec_id")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((pmod(col("r") * 7 + i, lit(11)) - 5) * lit(dither) +
              col("r") * lit(1.0e-4d)).cast("float"))
            .as("embedding"),
          col("label"))
        .repartition(cpus * 2)
        .cache()
      embCorpus.count()
      val histCut = (embReplicas - nIngest).toLong * nBaseVecs
      val tB = System.nanoTime()
      operators.Similarity.writeAnnIndex(
        embCorpus.filter(col("vec_id") < histCut), kClusters = 32, iters = 2,
        codesTable = "csb_ann_codes", vecTable = "csb_ann_vecs",
        centroidTable = "csb_ann_cents")
      val annBuildSec = (System.nanoTime() - tB) / 1e9
      val steps = (0 until nIngest).map { j =>
        val indexedVecs = spark.table("csb_ann_vecs").count()
        val (probeSec, rowsOut) = Bench.timeRows(operators.Similarity.probePqIndex(
          spark, nQ, topK, radius = 4,
          codesTable = "csb_ann_codes", vecTable = "csb_ann_vecs"))
        val lo = histCut + j.toLong * nBaseVecs
        val delta = embCorpus.filter(col("vec_id") >= lo &&
          col("vec_id") < lo + nBaseVecs)
        val tA = System.nanoTime()
        operators.Similarity.appendAnnIndex(delta,
          codesTable = "csb_ann_codes", vecTable = "csb_ann_vecs",
          centroidTable = "csb_ann_cents")
        val appendSec = (System.nanoTime() - tA) / 1e9
        (j, indexedVecs, probeSec, rowsOut, appendSec)
      }
      embCorpus.unpersist()
      (annBuildSec, steps)
    }
    val qs = (results ++ indexResults).map { case (k, v, n) =>
      f""""$k":{"sec":$v%.2f,"rows":$n}""" }.mkString("{", ",", "}")
    val ingest = ingestSteps.map { case (r, hist, probeSec, pairs, appSec) =>
      f"""{"step":$r,"history_docs":$hist,"probe_sec":$probeSec%.2f,"pairs":$pairs,"append_sec":$appSec%.2f}"""
    }.mkString("[", ",", "]")
    val s64 = sim64Steps.map { case (r, docs, probeSec, pairs, appSec) =>
      f"""{"step":$r,"indexed_docs":$docs,"probe_sec":$probeSec%.2f,"pairs":$pairs,"append_sec":$appSec%.2f}"""
    }.mkString(
      f"""{"build_sec":$s64BuildSec%.2f,"build_rows":$s64BuildRows,"steps":[""",
      ",", "]}")
    val ann = annRegimes.map { case (name, (bruteSec, curve)) =>
      curve.map { case (_, p, sec, rec) =>
        f""""probe$p":{"sec":$sec%.2f,"recall_at_10":$rec%.4f}""" }
        .mkString(f""""$name":{"brute":{"sec":$bruteSec%.2f,"recall_at_10":1.0},""", ",", "}")
    }.mkString("{", ",", "}")
    val fix = diffuseFix._2.map { case (kc, p, sec, rec) =>
      f""""k${kc}_p$p":{"sec":$sec%.2f,"recall_at_10":$rec%.4f}""" }
      .mkString("{", ",", "}")
    val annIng = annIngest._2.map { case (j, iv, probeSec, rowsOut, appSec) =>
      f"""{"step":$j,"indexed_vecs":$iv,"probe_sec":$probeSec%.2f,"rows":$rowsOut,"append_sec":$appSec%.2f}"""
    }.mkString(f"""{"build_sec":${annIngest._1}%.2f,"steps":[""", ",", "]}")
    val sd = {
      val (nV, kD, kept, sec, drops, seen) = semdedup
      f"""{"vecs":$nV,"k":$kD,"kept":$kept,"sec":$sec%.2f,"dominator_drops":$drops,"observed_vectors":$seen}"""
    }
    println(s"""{"metric":"corpus_scale","base_docs":$nBase,"corpus_docs":$nCorpus,"replicas":$replicas,"variants":$qs,"ingest_loop":$ingest,"sim64_loop":$s64,"ann_vecs":$nVecs,"ann":$ann,"diffuse_fix":$fix,"ann_ingest":$annIng,"semdedup":$sd,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
