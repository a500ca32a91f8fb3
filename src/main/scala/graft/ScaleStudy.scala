package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{Dedup, IvfPq, Pq, Similarity}

/** Scale-study driver for the RULE-RESOLVED operator configurations —
  * the measurements the n-adaptive rules in [[ScaleConfig]] exist for.
  *
  * The oracled queries keep their fixed gate configs (static oracle
  * SQL can't depend on runtime n), and a fixed config has a documented
  * quadratic wall wherever a blocking-key population is divided among
  * a constant number of buckets:
  *
  *   - `embed_lsh`: expected chance collisions per band are n²/2^r —
  *     fine at gate scale, catastrophic two decades up (at 200 k
  *     diverse vectors the fixed r=8 built a 69 GB candidate shuffle
  *     and ran the box out of disk). Rule: [[Dedup.lshRowsForN]].
  *   - `semdedup`: the within-cell pair join is Σ|cell|² ≈ n²/k at
  *     fixed k. Rule: [[Similarity.kmeansCellsForN]] (cells ≈ √n ⇒
  *     join cost ≈ n^1.5) — the SAME wall shape, one rule over.
  *   - `ivfpq`: the probed-cell ADC candidate volume is
  *     probes × n/k per query — linear drift, not a wall, but the
  *     same fixed-k erosion. Rule: [[Similarity.kmeansCellsForN]].
  *
  * A production pipeline calls the rule with its corpus size; this
  * main measures THAT path at whatever scale directory it is pointed
  * at, with Bench's timing discipline (warm-up pass, N timed passes,
  * caches cleared between passes, min reported).
  *
  * Usage: runMain graft.ScaleStudy <sfDir> [passes] [study], study one
  * of [[Studies]] (default `embed_lsh`). Prints one JSON line; never
  * run concurrently with Bench.
  *
  * `semdedup_sampled` / `ivfpq_sampled` are the rule paths with
  * training capped at [[Similarity.TrainSamplePerCell]]·k
  * deterministic-coin samples — the corpus-scale training
  * configuration; contrast their decade ratios with the full-training
  * twins to see the n·k training term drop out. `recall` and
  * `annroute` measure QUALITY instead of time (see [[recallStudy]] and
  * [[annRouteStudy]]).
  */
object ScaleStudy {

  val Studies: Seq[String] = Seq("embed_lsh", "semdedup", "semdedup_sampled",
    "semdedup_capped", "ivfpq", "ivfpq_sampled", "knn_join", "contam_embed",
    "recall", "annroute")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val study = if (args.length > 2) args(2) else "embed_lsh"
    if (!Studies.contains(study))
      sys.error(s"unknown study '$study' (${Studies.mkString("|")})")
    val spark = Session()
    val emb = graft.core.FanOut(graft.sources.Tables(spark, sfDir).embeddings)
    val n = emb.count()
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val record = study match {
      case "recall" => recallStudy(vectors, n)
      case "annroute" => annRouteStudy(vectors, n)
      case _ =>
        val (metric, config, run) = timedStudy(study, emb, vectors, n)
        def once(): Double = {
          val t0 = System.nanoTime()
          run().write.format("noop").mode("overwrite").save()
          // capture elapsed BEFORE cache teardown — Bench's timing window
          // ends at the noop write too; clearCache is inter-pass hygiene,
          // not part of the measured plan cost
          val elapsed = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          elapsed
        }
        once() // warm-up (JIT + scan cache), untimed — same discipline as Bench
        val samples = (1 to passes).map(_ => once())
        s""""metric":"$metric","n":$n,$config,""" +
          s""""samples":[${samples.mkString(",")}],"min":${samples.min}"""
    }
    spark.stop()
    println(s"""{$record,"sf":"$sfDir"}""")
  }

  /** The timed studies: resolve the rule once, report it in the record
    * (metric name, config JSON fields, the query to time). Each query
    * trains its own model into a fresh directory per pass — training is
    * INSIDE the measured query, exactly like its oracled twin.
    */
  private def timedStudy(study: String, emb: DataFrame, vectors: DataFrame,
      n: Long): (String, String, () => DataFrame) = study match {
    case "embed_lsh" =>
      val r = Dedup.lshRowsForN(n)
      val bands = Dedup.LshBands
      ("dd_embed_lsh_rule", s""""rows_per_band":$r,"bands":$bands""",
        () => Dedup.embedLshPairs(emb, r, bands))
    case "semdedup" | "semdedup_sampled" | "semdedup_capped" =>
      val k = Similarity.kmeansCellsForN(n)
      val iters = Dedup.SemdedupIters
      val cap =
        if (study != "semdedup") Some(Similarity.TrainSamplePerCell * k) else None
      // "semdedup_capped": sampled training PLUS the per-cell
      // population bound — the full corpus-scale configuration (the
      // pair join costs O(n·cap) in expectation instead of Σ|cell|²)
      val cellCap =
        if (study == "semdedup_capped") Some(Dedup.SemdedupCellCap) else None
      (s"dd_${study}_rule",
        s""""k":$k,"iters":$iters,"train_cap":${cap.getOrElse(0)},""" +
          s""""cell_cap":${cellCap.getOrElse(0)}""",
        () => Dedup.semdedup(vectors, tmp("graft_semdedup_study_"), k, iters,
          cap, cellCap))
    case "ivfpq" | "ivfpq_sampled" =>
      val k = Similarity.kmeansCellsForN(n)
      val probes = IvfPq.Probes
      val cap =
        if (study == "ivfpq_sampled") Some(Similarity.TrainSamplePerCell * k)
        else None
      (s"sim_${study}_rule",
        s""""coarse_k":$k,"probes":$probes,"train_cap":${cap.getOrElse(0)}""",
        () => IvfPq.ivfPqCore(vectors, tmp("graft_ivfpq_study_cent_"),
          tmp("graft_ivfpq_study_cb_"), coarseK = k, trainCap = cap))
    case "knn_join" =>
      // the k-NN self-join at cells ≈ √n, sampled training, and the
      // FIXED probe budget — deliberately NOT kmeansProbesForK: that
      // rule pins a query's scanned fraction at 1/16 of cells, which
      // for a QUERY SET is n/16 candidates per query, but for the
      // all-rows JOIN it turns total candidates into n²/16 —
      // quadratic by construction, the exact wall the cell blocking
      // exists to avoid. The join's candidate volume at fixed probes
      // is probes × Σ|cell|² ≈ probes · n^1.5 at the k-rule
      // (semdedup's pair-join family, one probe-multiple over), and
      // the round-9 clustered recall decades measured fixed-3-probe
      // recall@3 at 0.90+ on clustered corpora — the regime real
      // embeddings live in and the operating point a k-NN graph
      // builder actually ships.
      val k = Similarity.kmeansCellsForN(n)
      val probes = Similarity.KmeansProbes
      val cap = Similarity.TrainSamplePerCell * k
      ("sim_knn_join_rule", s""""k":$k,"probes":$probes,"train_cap":$cap""",
        () => Similarity.knnJoinCore(vectors, tmp("graft_knn_study_"), k,
          Similarity.KmeansIters, probes, Some(cap)))
    case "contam_embed" =>
      // semantic decontamination with the eval set held BENCHMARK-
      // SIZED (≈40 vectors at every decade — the production shape:
      // the benchmark does not grow with the corpus): the claim
      // under measurement is scan-speed linearity of the broadcast
      // in-row fold
      val evalMod = math.max(Dedup.ContamEmbedEvalMod.toLong, n / 39)
      ("dd_contam_embed_rule", s""""eval_mod":$evalMod""",
        () => Dedup.contamEmbed(emb, evalMod))
  }

  /** "recall": quality-across-decades for the ANN rule paths. Each
    * family runs at its rule-resolved k with sampled training (the
    * corpus-scale configuration), then its top-3 set is compared per
    * query against the exact brute-force top-3 under the SAME metric
    * the family ranks by (cosine for kmeans-IVF, squared L2 for the
    * ADC paths). Queries are the id prefix (vec_id < nq).
    */
  private def recallStudy(vectors: DataFrame, n: Long): String = {
    val k = Similarity.kmeansCellsForN(n)
    val cap = Similarity.TrainSamplePerCell * k
    def firstIds(nq: Int) = vectors.where(col("vec_id") < nq).select("vec_id")
    def measureAdc(probes: Int, pqK: Int): (Double, Double) = {
      def adc(tag: String, rerankDepth: Option[Int]) = recallOf(vectors,
        firstIds(10), byCosine = false,
        IvfPq.ivfPqCore(vectors, tmp(s"graft_rc_${tag}_c_"),
          tmp(s"graft_rc_${tag}_b_"), coarseK = k, probes = probes,
          trainCap = Some(cap), pqK = pqK, rerankDepth = rerankDepth))
      (adc("pq", None), adc("rr", Some(IvfPq.RerankDepth)))
    }
    def measure(probes: Int): (Double, Double, Double) = {
      val rKmeans = recallOf(vectors, firstIds(20), byCosine = true,
        Similarity.kmeansIvfCore(withNorm(vectors), tmp("graft_rc_km_"),
          k = k, probes = probes, trainCap = Some(cap)))
      val (rIvfPq, rRerank) = measureAdc(probes, Pq.PqK)
      (rKmeans, rIvfPq, rRerank)
    }
    // operating points: the fixed gate probes (cheap; right for
    // clustered data), the constant-fraction probe rule (the
    // structureless-data fallback — see kmeansProbesForK), and — for
    // the ADC paths — the probe rule COMBINED with the pqKForN code
    // budget (the round-9 rule: fixed codes are a fixed error band,
    // the reason ADC-only flatlined at ×100 in the round-8 study)
    val p0 = IvfPq.Probes
    val (k0, q0, r0) = measure(p0)
    val pRule = Similarity.kmeansProbesForK(k)
    val ruleJson = if (pRule != p0) {
      val (k1, q1, r1) = measure(pRule)
      s""","probes_rule":$pRule,"kmeans_ivf_rule":$k1,""" +
        s""""ivfpq_rule":$q1,"ivfpq_rerank_rule":$r1"""
    } else ""
    val kPq = Pq.pqKForN(n)
    val codeJson = if (kPq != Pq.PqK) {
      val (q2, r2) = measureAdc(pRule, kPq)
      s""","pq_k_rule":$kPq,"ivfpq_code_rule":$q2,""" +
        s""""ivfpq_rerank_code_rule":$r2"""
    } else ""
    s""""metric":"ann_recall","n":$n,"k":$k,"train_cap":$cap,""" +
      s""""probes":$p0,""" +
      s""""kmeans_ivf":$k0,"ivfpq":$q0,"ivfpq_rerank":$r0$ruleJson$codeJson"""
  }

  /** "annroute": the ANN family ROUTING rule measured end to end —
    * [[IvfPq.calibrateRoute]] (both families built at the shared
    * sampled-training budget, recall@3 measured on the coin-keyed
    * calibration queries against exact truth, route by margin)
    * validated against an INDEPENDENT full measurement of both
    * families on a DEDICATED third coin's queries (graft-route-study|
    * — disjoint from both training coins and the calibration coin).
    * The round-10/11-take-1 study used id-prefix queries (vec_id <
    * nq) here, which on the replicated decade corpora is a GEOMETRY-
    * BIASED sample: ids 0..nq−1 are all replica-0 base vectors, and
    * PQ's contiguous-subspace split is not invariant under the
    * upscaler's per-replica dim rotations, so replica 0's ADC
    * quantization error is not the corpus average (measured: adc
    * recall 0.05 on the id prefix vs 0.19 on coin queries at iso
    * ×10). A coin sample spreads queries across replicas — the
    * estimate the router's own calibration is judged against must
    * not carry a sampling bias the router avoided.
    * Run at the isotropic AND clustered decades: the record shows
    * the calibration picking the measured winner wherever the gap
    * exceeds the tie band. (Three O(sample) proxy signals were
    * measured and rejected before this landed on direct
    * calibration — BENCH_annroute_r10.jsonl carries every cut.)
    */
  private def annRouteStudy(vectors: DataFrame, n: Long): String = {
    val k = Similarity.kmeansCellsForN(n)
    val cap = Similarity.TrainSamplePerCell * k
    val pqK = Pq.pqKForN(n)
    val p0 = IvfPq.Probes
    val t0 = System.nanoTime()
    val cal = IvfPq.calibrateRoute(vectors, k, pqK, cap, p0)
    val signalSec = (System.nanoTime() - t0) / 1e9
    // independent truth at HIGHER precision than the calibration
    // (300 hit slots, SE ≈ ±0.01): the reference measurement should
    // be as precise as one bounded scan affords, so a calibration-
    // vs-study disagreement reads as a real seam, not study noise
    val studyNq = 100
    val studyCoin =
      md5(concat(lit("graft-route-study|"), col("vec_id").cast("string")))
    val studyIds = vectors.orderBy(studyCoin, col("vec_id")).limit(studyNq)
      .select("vec_id")
    val rKmeans = recallOf(vectors, studyIds, byCosine = true,
      Similarity.kmeansIvfCore(withNorm(vectors), tmp("graft_ar_km_"),
        k = k, probes = p0, trainCap = Some(cap), queryIds = Some(studyIds)))
    val rRerank = recallOf(vectors, studyIds, byCosine = false,
      IvfPq.ivfPqCore(vectors, tmp("graft_ar_rr_c_"), tmp("graft_ar_rr_b_"),
        coarseK = k, probes = p0, trainCap = Some(cap), pqK = pqK,
        rerankDepth = Some(IvfPq.RerankDepth), queryIds = Some(studyIds)))
    val winner = if (rKmeans > rRerank) "kmeans_ivf"
      else if (rRerank > rKmeans) "ivfadc" else "tie"
    // route_correct applies the router's OWN decision rule to the
    // high-precision study recalls (raw cells only past the serving-
    // cost margin — the contract is NOT "recall argmax"): correct =
    // the calibration reached the same decision the precise
    // measurement does. study_gap + in_band stay in the record so a
    // reader can see how close the decision sat to the boundary.
    val studyRoute = IvfPq.annRouteForRecalls(rKmeans, rRerank)
    val studyGap = math.abs(rKmeans - rRerank)
    val margin = IvfPq.RouteMargin
    s""""metric":"ann_route","n":$n,"k":$k,"train_cap":$cap,""" +
      s""""pq_k":$pqK,"probes":$p0,"study_nq":$studyNq,""" +
      s""""cal_kmeans":${cal.kmeansRecall},"cal_ivfpq_rerank":${cal.adcRecall},""" +
      s""""cal_gap":${cal.gap},"cal_in_band":${cal.inBand},""" +
      s""""route_margin":$margin,""" +
      s""""signal_sec":$signalSec,""" +
      s""""route":"${cal.route}","kmeans_ivf":$rKmeans,"ivfpq_rerank":$rRerank,""" +
      s""""winner":"$winner","study_route":"$studyRoute",""" +
      s""""study_gap":$studyGap,""" +
      s""""in_band":${studyGap <= margin},""" +
      s""""route_correct":${cal.route == studyRoute}"""
  }

  private def dot(a: Column, b: Column): Column = Similarity.dotBuiltin(a, b)

  private def withNorm(vectors: DataFrame): DataFrame =
    vectors.withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** recall@3 of an ANN result (query_id, vec_id, …) against the exact
    * brute-force top-3 of every query in `queryIds` (a `vec_id` frame),
    * ranked by cosine or by negated squared L2 — the metric the family
    * under test ranks by. A distributed join + count, no row fetch.
    */
  private def recallOf(vectors: DataFrame, queryIds: DataFrame,
      byCosine: Boolean, ann: DataFrame): Double = {
    val q = broadcast(vectors.join(queryIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("embedding").as("eq")))
    val metric =
      if (byCosine) dot(col("eq"), col("ec")) /
        (sqrt(dot(col("eq"), col("eq"))) * sqrt(dot(col("ec"), col("ec"))))
      else -(dot(col("eq"), col("eq")) - lit(2.0) * dot(col("eq"), col("ec"))
        + dot(col("ec"), col("ec")))
    val w = Window.partitionBy("query_id").orderBy(col("__m").desc, col("vec_id"))
    val truth = vectors.select(col("vec_id"), col("embedding").as("ec"))
      .crossJoin(q).where(col("query_id") =!= col("vec_id"))
      .withColumn("__m", metric)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select("query_id", "vec_id")
    val hits = ann.select("query_id", "vec_id")
      .join(truth, Seq("query_id", "vec_id")).count()
    hits.toDouble / (3.0 * queryIds.count())
  }
}
