package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths:
  *   - brute force: exact top-k for a bounded query set — the baseline
  *     and the verify oracle for any ANN index;
  *   - IVF-style sign buckets: a coarse quantizer (sign pattern of the
  *     leading dimensions) partitions vectors into 2^B cells; the search
  *     joins query to its own cell only. At 100 TB the cell id is the
  *     shuffle/bucketing key: candidate generation becomes an equi-join
  *     whose cost is Σ|cell|² instead of n², and cells are scanned in
  *     parallel. (Real IVF uses k-means centroids; the sign quantizer
  *     keeps the oracle exactly replayable while exercising the same
  *     plan shape.)
  *
  * Dot products are left folds in double precision — bit-identical
  * between Spark and the DuckDB oracle, so ranking (incl. the top-k
  * cut) is engine-stable; cosine is additionally rounded for output.
  */
object Similarity extends QueryModule {

  /** Native codegen'd dot product ([[graft.functions.DotProduct]]);
    * bit-equal to [[dotBuiltin]] (cross-checked in SimilaritySpec).
    */
  private def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(x), Bridge.expression(y)))
  }

  /** Native codegen'd dot product over array<double> inputs
    * ([[graft.functions.DotProductDouble]]); bit-equal to [[dotBuiltin]]
    * on double arrays (cross-checked in DotProductSpec).
    */
  private def dotD(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProductDouble(
      Bridge.expression(x), Bridge.expression(y)))
  }

  /** Built-ins-only formulation (two interpreted lambdas per element);
    * kept as the cross-check and the no-custom-code fallback.
    */
  def dotBuiltin(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Quantizer bits for an n-vector corpus — the IVF analog of
    * [[Dedup.minhashRowsForN]] / [[Dedup.lshRowsForN]]. The cell count
    * MUST grow with n: with a constant cell count the within-cell scan
    * is Θ(n²/cells). Rule of thumb cells ≈ √n ⇒ bits = ⌈log₂ √n⌉ =
    * ⌈log₂(n)/2⌉, so expected occupancy and probe cost both grow as √n;
    * at 10⁹ vectors that's 15 bits ≈ 2¹⁵ cells (k-means centroids in
    * production; the sign quantizer keeps the oracle exactly
    * replayable while exercising the same plan shape). Floored at 8:
    * below 256 cells the Hamming-1 multi-probe ring (bits+1 probes) is
    * a large fraction of the whole space and the quantizer stops
    * discriminating — and 8 IS the oracled gate configuration
    * ([[BucketDims]]), the same static-oracle compromise the other two
    * rules document.
    */
  def ivfBitsForN(n: Long): Int = {
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1)
    math.max(8, (log2n + 1) / 2)
  }

  /** Oracled gate config = [[ivfBitsForN]]'s floor at test scale. */
  private[graft] val BucketDims = 8

  private[graft] def signBucket(e: Column): Column =
    concat((1 to BucketDims).map(i =>
      when(element_at(e, i) >= 0f, "+").otherwise("-")): _*)

  /** Multi-probe cells for a query: its own cell plus all Hamming-1
    * neighbors (one sign flipped) — recovers the recall that a finer
    * quantizer costs, still candidate-generation by EQUI-join. A
    * candidate lives in exactly one cell, so probes never duplicate it.
    */
  private[graft] def probeCells(cell: Column): Column =
    array(cell +: (1 to BucketDims).map { i =>
      val flipped = when(substring(cell, i, 1) === "+", "-").otherwise("+")
      concat(substring(cell, 1, i - 1), flipped, substring(cell, i + 1, BucketDims - i))
    }: _*)

  /** embeddings staged with a precomputed norm column: one array fold per
    * vector before the join instead of two extra folds per candidate
    * pair after it. cosine = dot/(norm_q·norm_c) is the same double
    * arithmetic as dot/(sqrt(dot)·sqrt(dot)) — bit-equal to the oracle.
    */
  private def normed(s: SparkSession, dir: String): DataFrame =
    graft.core.FanOut(Tables(s, dir).embeddings)
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("norm"))

  /** Exact top-5 cosine neighbors for query vectors (vec_id < 5), brute
    * force over all vectors. The per-query top-k is a rank-truncated
    * window (WindowGroupLimit keeps 5 rows per partition before the
    * sort at scale).
    */
  def simTopkBrute(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("norm").as("nq"))
    val c = e.select(col("vec_id"), col("embedding").as("ec"), col("norm").as("nc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_exact").desc, col("vec_id"))
    q.join(c, col("query_id") =!= col("vec_id"))
      .withColumn("cos_exact", dot(col("eq"), col("ec")) / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos_exact"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** IVF-style bucketed ANN: search the query's sign cell plus its
    * Hamming-1 probe neighbors. Top-3 per query for queries vec_id < 20.
    * Candidate generation is an equi-join on the cell id — at 100 TB the
    * cell is the shuffle/bucketing key and cost is Σ(probes×|cell|), not
    * n².
    */
  def simIvfBucket(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
      .select(col("vec_id"), col("embedding"), col("norm"),
        signBucket(col("embedding")).as("cell"))
    val q = e.where(col("vec_id") < 20)
      .select(explode(probeCells(col("cell"))).as("cell"),
        col("vec_id").as("query_id"),
        col("embedding").as("eq"), col("norm").as("nq"))
    val c = e.select(col("cell"), col("vec_id"), col("embedding").as("ec"), col("norm").as("nc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_exact").desc, col("vec_id"))
    q.join(c, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos_exact", dot(col("eq"), col("ec")) / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"),
        round(col("cos_exact"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** k-means cell count for the learned-quantizer paths
    * ([[simKmeansIvf]] and [[Dedup.ddSemdedup]]): cells ≈ √n keeps
    * BOTH the per-cell scan (n/k) and the assignment loop (k) at √n —
    * the [[ivfBitsForN]] discipline applied to a learned quantizer —
    * snapped DOWN to a power of two (so cell ids pack into bit ranges)
    * and floored at the gate's 16. kmeansCellsForN(500) = 16 =
    * [[KmeansK]]; 10⁶ → 512; 10⁹ → 16 384 (ScaleConfigSpec pins all
    * three).
    */
  def kmeansCellsForN(n: Long): Int = {
    val sqrtN = math.sqrt(n.toDouble.max(1.0)).toInt
    math.max(16, Integer.highestOneBit(math.max(sqrtN, 1)))
  }

  /** Probe budget for a k-cell quantizer when the corpus has no
    * exploitable cluster structure: the round-8 recall study measured
    * recall@3 tracking the SCANNED FRACTION probes/k on isotropic
    * synthetic vectors (0.30 → 0.17 as the fixed 3 probes eroded from
    * 9.4 % to 1.2 % of cells), so holding recall needs probes ∝ k —
    * this rule pins the fraction at 1/16 of cells, floored at the
    * oracled gate's 3. On real clustered embeddings the fixed probe
    * budget is the cheaper right answer (neighbors concentrate in the
    * query's own cells); this rule is the structureless-data fallback,
    * and its cost is explicit: candidates per query = n/16 instead of
    * 3·n/k. The round-8 recall study measures both operating points —
    * and the round-9 CLUSTERED decades (mixture-of-Gaussians upscale)
    * turned the clustered-data claim from design argument into
    * measurement: fixed 3 probes holds recall@3 = 0.90/0.92 at
    * ×10/×100 clustered (scanning 3/256 of cells at ×100) where the
    * same budget reads 0.28/0.17 on isotropic data
    * (BENCH_recall_r9.jsonl; BENCH_NOTES round-9 recall section).
    */
  def kmeansProbesForK(k: Int): Int = math.max(KmeansProbes, k / 16)

  /** Oracled gate config for [[simKmeansIvf]]. k=16 cells on the test
    * corpus (= [[kmeansCellsForN]] at the gate n); 3 Lloyd iterations is
    * where KmeansIvfSpec's recall curve flattens; 3 probes matches the
    * probe budget the spec measures against the sign quantizer (and
    * equals [[kmeansProbesForK]] at the gate k=16).
    */
  private[graft] val KmeansK = 16
  private[graft] val KmeansIters = 3
  private[graft] val KmeansProbes = 3

  /** Where [[simKmeansIvf]] persists the trained centroids — per-run
    * UNIQUE, like every other scratch path: the oracle SQL below
    * interpolates this value, and `oracleSql` is (re-)evaluated in the
    * SAME JVM that runs the query, so the oracle_sql.json the driver
    * dumps always names exactly the files this run wrote. Two
    * concurrent harness runs therefore cannot cross-read centroids.
    *
    * Deliberately NOT routed through [[graft.core.TempDirs]]: the
    * DuckDB oracle replays these files AFTER this JVM has exited, so
    * an exit-time cleanup would delete the oracle's input. The k-row
    * parquet is the one scratch path that must outlive the run.
    */
  private[graft] lazy val KmeansCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_kmeans_centroids_").toString

  /** Per-cell training-sample multiplier for the sampled-training twins
    * ([[simKmeansIvfSampled]], [[Dedup.ddSemdedupSampled]], and the
    * sampled ScaleStudy rule paths): the sample is 8×k vectors, so one
    * Lloyd iteration costs 8k² distance evaluations — with the
    * k ≈ √n rule that is O(n) per iteration instead of the full
    * corpus's n·k = O(n^1.5). Consistent with [[IvfPq.SampleCap]]
    * (= 8 × [[KmeansK]] at the gate operating point); 8 vectors per
    * cell is enough for the mean estimates at every k the rule
    * produces (KmeansIvfSpec's recall floor holds on the sampled
    * model).
    */
  private[graft] val TrainSamplePerCell = 8

  /** Deterministic training coin for the sampled k-means paths — same
    * stateless-md5 discipline as [[IvfPq.sampleCoin]]: rerun- and
    * partition-independent, and the smallest-coin cut plans as a
    * TakeOrdered, never a full sort.
    */
  private[graft] def kmeansSampleCoin: Column =
    md5(concat(lit("graft-kmeans-sample|"), col("vec_id").cast("string")))

  /** Model sink for [[simKmeansIvfSampled]] — same persistence contract
    * as [[KmeansCentroidDir]].
    */
  private[graft] lazy val SampledKmeansCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_kmeans_s_centroids_").toString

  /** k-means IVF under the driver oracle. Training (distributed
    * deterministic Lloyd, [[KmeansIvf.train]]) is not static-SQL-
    * replayable — but the ASSIGNMENT and SEARCH are: the trained
    * centroids are persisted to parquet and read back, and the oracle
    * replays argmin-distance cell assignment (the identical
    * ‖v‖²−2v·c+‖c‖² double arithmetic, ties to the lowest cid),
    * 3-cell multi-probe for the query set, and exact-cosine top-3 over
    * the candidates — against the very table the engine trained. A
    * drifted centroid, a wrong argmin, or a probe-order bug all
    * hash-mismatch. At 100 TB the persisted-centroid table is the
    * deployment shape anyway: train once on a sample, broadcast-join
    * the k-row table against the full corpus for assignment.
    */
  def simKmeansIvf(s: SparkSession, dir: String): DataFrame =
    kmeansIvfCore(normed(s, dir), KmeansCentroidDir)

  /** k-means IVF with training on a fixed deterministic sample
    * ([[TrainSamplePerCell]]·k smallest [[kmeansSampleCoin]]s) — the
    * corpus-scale training path: one Lloyd iteration touches 8k²
    * distance pairs instead of n·k, while ASSIGNMENT and SEARCH still
    * cover every vector. Downstream of training the query is
    * [[simKmeansIvf]] verbatim and the oracle replays the identical
    * SQL against the sampled model table — a model that silently saw
    * out-of-sample vectors during training cannot hash-match
    * (KmeansIvfSampledSpec re-trains from an independently-computed
    * sample and pins bit-equality with the persisted table).
    */
  def simKmeansIvfSampled(s: SparkSession, dir: String): DataFrame =
    kmeansIvfCore(normed(s, dir), SampledKmeansCentroidDir,
      trainCap = Some(TrainSamplePerCell * KmeansK))

  /** Core of [[simKmeansIvf]], parameterized on the normed vector set,
    * the centroid sink, the cell count k (the [[kmeansCellsForN]] rule
    * input — ScaleStudy measures the rule-resolved path), and the
    * optional training-sample cap.
    */
  private[graft] def kmeansIvfCore(e: DataFrame, centDir: String,
      k: Int = KmeansK, iters: Int = KmeansIters, probes: Int = KmeansProbes,
      trainCap: Option[Int] = None,
      queryIds: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && iters > 0 && probes > 0,
      s"need positive k/iters/probes, got $k/$iters/$probes")
    val s = e.sparkSession
    val vectors = e.select(col("vec_id"), col("embedding"))
    // training set: everything, or the trainCap smallest sample coins
    // (TakeOrdered — no full sort; vec_id tiebreak for determinism)
    val trainVecs = trainCap match {
      case Some(cap) => vectors.orderBy(kmeansSampleCoin, col("vec_id")).limit(cap)
      case None => vectors
    }
    KmeansIvf.train(trainVecs, k, iters, seedSmallest = trainCap.isDefined)
      .write.mode("overwrite").parquet(centDir)
    // read BACK so assignment provably uses the persisted table the
    // oracle will read — not a diverging in-memory lineage
    val trained = s.read.parquet(centDir)
    // query set: the gate's fixed id prefix, or an explicit (vec_id)
    // frame — IvfPq.calibrateRoute routes its coin-chosen queries here
    val queryVecs = queryIds match {
      case Some(ids) => vectors.join(broadcast(ids.select("vec_id")), Seq("vec_id"))
      case None => vectors.where(col("vec_id") < 20)
    }
    val q = KmeansIvf.probeCells(queryVecs, trained, probes)
      .join(e.select(col("vec_id"),
        col("embedding").as("eq"), col("norm").as("nq")), Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("query_id"), col("eq"), col("nq"))
    val c = KmeansIvf.assignCells(vectors, trained)
      .join(e.select(col("vec_id"), col("norm")), Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding").as("ec"), col("norm").as("nc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_exact").desc, col("vec_id"))
    // the probe side is the QUERY SET × probes — bounded by design
    // (a search serves a request batch, never the corpus; the gate
    // pins 20 ids, calibration 40) — but the planner cannot estimate
    // that through the probe window, so without the hint it
    // sort-merge-joined, exchanging and sorting the ENTIRE assigned
    // corpus by cell. Broadcasting the probe frame makes serving
    // scan → broadcast probe join → per-row cosine → partial
    // window-limit → a top-3-per-query-sized exchange: the corpus
    // never shuffles (guide §3.1: explicit hint where estimates are
    // blind after filters/windows)
    broadcast(q).join(c, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos_exact", dot(col("eq"), col("ec")) / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"),
        round(col("cos_exact"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Model sink for [[simKnnJoin]] — same persistence contract as
    * [[KmeansCentroidDir]].
    */
  private[graft] lazy val KnnCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_knn_centroids_").toString

  /** Neighbors reported per vector by [[simKnnJoin]]. */
  private[graft] val KnnJoinK = 3

  /** ANN k-NN JOIN — the all-rows variant of the ANN family: every sim_*
    * search answers "top-k for a QUERY SET", and every dd_embed/semdedup
    * variant answers "which pairs clear a THRESHOLD"; this operator
    * answers "the top-[[KnnJoinK]] neighbors of EVERY corpus vector" —
    * the primitive under k-NN-graph construction, semantic clustering,
    * and retrieval-augmented pretraining (each document's nearest
    * neighbors become its retrieval context).
    *
    * Shape: sampled-training k-means cells ([[TrainSamplePerCell]]·k
    * coins — the corpus-scale training path), one broadcast-join
    * assignment pass (n rows through the [[KmeansIvf.assignCells]]
    * struct-min aggregate), then a SELF-equi-join on the cell key and a
    * per-vector rank-truncated window. Candidate volume is Σ|cell|² —
    * bounded in expectation by the k ≈ √n rule exactly as SemDeDup's
    * pair join, and under real (clustered) skew by the SAME per-cell
    * discipline [[Dedup.SemdedupCellCap]] applies there (core-collapse +
    * md5 blocks); this gate query keeps the uncapped join because its
    * oracle must see every candidate. The window's WindowGroupLimit
    * keeps [[KnnJoinK]] rows per vector pre-sort, so the rank never
    * materializes a cell's full candidate list past the shuffle.
    *
    * Recall, bought not hoped for: the LEFT side of the self-join is
    * the [[KmeansProbes]]-cell multi-probe list ([[KmeansIvf.probeCells]]),
    * the right side each vector's single home cell — so every vector
    * scans its own cell plus its two next-nearest, the exact
    * composition the sim_* searches use, and each candidate pair
    * appears once (the neighbor has one home cell). KnnJoinSpec
    * MEASURES recall@3 against exact brute force (0.233 same-cell-only
    * → 0.507 with the probe list at the gate point) — the replay
    * oracle is structurally blind to cross-cell misses, so recall is
    * the spec's job, and the round-8/9 recall decades carry the same
    * number across scales for the search family this join composes
    * from. Ranking follows the family convention: exact cosine doubles
    * (bit-equal in both engines), ties to the lowest neighbor id,
    * rounded only at output.
    */
  def simKnnJoin(s: SparkSession, dir: String): DataFrame =
    knnJoinCore(
      graft.core.FanOut(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("embedding")),
      KnnCentroidDir, KmeansK, KmeansIters,
      KmeansProbes, Some(TrainSamplePerCell * KmeansK))

  /** Model sink for [[simKnnJoinCapped]] — same persistence contract
    * as [[KnnCentroidDir]].
    */
  private[graft] lazy val KnnCappedCentroidDir = java.nio.file.Files
    .createTempDirectory("graft_knncap_centroids_").toString

  /** Id offset for the capped gate's engineered clones — far above
    * every corpus vec_id, so clone ids never collide with real ones.
    */
  private[graft] val KnnCloneIdOffset = 1000000L

  /** The CAPPED k-NN join under the hash gate — the skew discipline
    * that makes [[simKnnJoin]] production-shaped ([[KnnCandCap]]
    * sample on cells past the 4×-mean trigger), promoted from a
    * scale-study-only measurement to an oracled query, the same
    * treatment [[Dedup.ddSemdedupCapped]] gave SemDeDup's cell cap.
    *
    * The gate corpus is near-balanced (16 trained cells over 500
    * vectors — no cell approaches 4× the mean), so on the raw table
    * the trigger is structurally vacuous. The query therefore joins
    * the corpus with an ENGINEERED head cluster the oracle replays
    * verbatim: one clone of vector 0's embedding per corpus row
    * (clone ids offset by [[KnnCloneIdOffset]]), which lands every
    * clone in a single cell of ≥ n members against a corpus-wide mean
    * of 2n/k — the trigger fires at EVERY scale factor (n > 4·(2n/16)
    * = n/2), and the md5-coin sample is non-vacuously active at the
    * gate (cell ≈ 530 vs cap [[KnnCandCap]] = 256: half the head
    * cell's candidates are blocked). Balanced cells stay exact — the
    * skew-relative semantics, pinned here rather than only in
    * KnnJoinSpec's fixture.
    *
    * The DuckDB oracle replays the WHOLE discipline: clone
    * derivation, argmin assignment over the persisted centroids,
    * per-cell counts → mean → the `greatest(cap, 4·mean)` trigger →
    * the md5-coin rank sample → the probe-side join and per-vector
    * (cosine desc, nbr_id) top-[[KnnJoinK]]. A candidate kept past
    * the cap, a coin ranked differently, or a mean computed over the
    * wrong cell set all hash-fail.
    */
  def simKnnJoinCapped(s: SparkSession, dir: String): DataFrame = {
    val base = graft.core.FanOut(Tables(s, dir).embeddings)
      .select(col("vec_id"), col("embedding"))
    val seed = base.where(col("vec_id") === 0)
      .select(col("embedding").as("__clone"))
    val clones = base
      .select((col("vec_id") + lit(KnnCloneIdOffset)).as("vec_id"))
      .crossJoin(broadcast(seed)) // 1-row fixture payload
      .select(col("vec_id"), col("__clone").as("embedding"))
    knnJoinCore(base.unionByName(clones), KnnCappedCentroidDir,
      KmeansK, KmeansIters, KmeansProbes,
      Some(TrainSamplePerCell * KmeansK), cellCap = Some(KnnCandCap))
  }

  /** Core of [[simKnnJoin]], parameterized on the (vec_id, embedding)
    * vector set, the centroid sink, and the (k, probes, trainCap)
    * operating point — ScaleStudy's `knn_join` mode measures the
    * rule-resolved path ([[kmeansCellsForN]] / [[kmeansProbesForK]])
    * across decades.
    */
  /** Candidate cap for the SKEW-PROOF k-NN-join configuration
    * (gated as `sim_knn_join_capped`; decades in BENCH_knncap_r9.jsonl):
    * a home cell over this size offers only its [[KnnCandCap]]
    * smallest-md5-coin members as
    * NEIGHBOR CANDIDATES (every vector still gets ranked output — the
    * cap restricts the join's right side, not its left). The coin is
    * similarity-oblivious, so the bound holds REGARDLESS of geometry —
    * the same argument as [[Dedup.SemdedupCellCap]]'s md5 blocks; the
    * semantic trade differs because top-k has no τ-witness: a capped
    * cell returns near-neighbors drawn from a fixed random sample
    * rather than the exact top-k, so ID-recall on oversized cells
    * drops by design while COSINE quality barely moves on clustered
    * data (tight clusters are mutually similar — any sample member is
    * a good neighbor). Both numbers are measured, not asserted
    * (BENCH_NOTES round-9 capped-join study, BENCH_knncap_r9.jsonl).
    */
  private[graft] val KnnCandCap = 256

  private[graft] def knnJoinCore(vectors0: DataFrame, centDir: String, k: Int,
      iters: Int, probes: Int, trainCap: Option[Int],
      cellCap: Option[Int] = None): DataFrame = {
    val s = vectors0.sparkSession
    val e = vectors0.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val vectors = e.select(col("vec_id"), col("embedding"))
    val trainVecs = trainCap match {
      case Some(cap) => vectors.orderBy(kmeansSampleCoin, col("vec_id")).limit(cap)
      case None => vectors
    }
    KmeansIvf.train(trainVecs, k, iters, seedSmallest = trainCap.isDefined)
      .write.mode("overwrite").parquet(centDir)
    val trained = s.read.parquet(centDir)
    val assigned = KmeansIvf.assignCells(vectors, trained)
      .join(e.select(col("vec_id"), col("norm")), Seq("vec_id"))
    val a = KmeansIvf.probeCells(vectors, trained, probes)
      .join(e, Seq("vec_id"))
      .select(col("cell"), col("vec_id"),
        col("embedding").as("ea"), col("norm").as("na"))
    val b0 = assigned.select(col("cell"), col("vec_id").as("nbr_id"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val b = cellCap match {
      case Some(cap) =>
        // rank members within their cell by a similarity-oblivious
        // coin; a cell is OVERSIZED — and sampled down to its `cap`
        // smallest coins — only past 4× the MEAN cell population (the
        // skew trigger): balanced corpora keep exact semantics
        // everywhere and pay only the rank window (one cell-wise sort
        // pass over n rows, no pair join), while a head cluster's
        // candidates are bounded regardless of geometry. Measured
        // numbers (BENCH_NOTES round-9 capped-join study): the
        // PRE-RULE flat cap — rejected precisely because it also
        // fired on balanced cells — read 49.2 s at 0.984 cosine mass
        // on clustered ×100 but cost isotropic ×100 0.849 of its
        // cosine mass; THIS skew-relative rule's own run reads 89.8 s
        // at 0.9955 cosine mass on clustered ×100 (the un-runnable
        // ≥10⁹-pair case) while leaving isotropic ×100 bit-exact
        // (55.1 s vs the uncapped 54.9 s — the trigger never fires).
        val counts = b0.groupBy("cell").agg(count(lit(1)).as("__cc"))
        val stats = broadcast(counts
          .agg((sum("__cc") / count(lit(1))).as("__mean")))
        val coin = md5(concat(lit("graft-knn-cand|"),
          col("nbr_id").cast("string")))
        val w = Window.partitionBy("cell").orderBy(coin, col("nbr_id"))
        b0.join(broadcast(counts), Seq("cell"))
          .crossJoin(stats)
          .withColumn("__crk", row_number().over(w))
          .where(col("__cc") <= greatest(lit(cap), lit(4) * col("__mean"))
            || col("__crk") <= cap)
          .drop("__cc", "__crk", "__mean")
      case None => b0
    }
    val w = Window.partitionBy("vec_id").orderBy(col("cos_exact").desc, col("nbr_id"))
    // shuffle_hash (the [[Dedup.pairCounts]] discipline): both sides
    // of the cell self-join are corpus-sized, so Spark would
    // sort-merge — but the downstream rank windows key on vec_id, so
    // the cell sorts buy nothing; a shuffled hash join keeps the same
    // two cell-keyed exchanges and drops both sorts. The build side's
    // per-partition footprint is its cells' membership — √n per cell
    // under the cells≈√n rule, and bounded by [[KnnCandCap]] exactly
    // where skew would break that expectation
    a.join(b.hint("shuffle_hash"), Seq("cell"))
      .where(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos_exact", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= KnnJoinK)
      .select(col("vec_id"), col("rank"), col("nbr_id"),
        round(col("cos_exact"), 6).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** Where [[simPq]] persists the trained per-subspace codebooks —
    * per-run unique, same contract as [[KmeansCentroidDir]] (the
    * oracle SQL interpolates this path and DuckDB replays it AFTER
    * this JVM exits, so it is deliberately NOT routed through
    * [[graft.core.TempDirs]]).
    */
  private[graft] lazy val PqCodebookDir = java.nio.file.Files
    .createTempDirectory("graft_pq_codebooks_").toString

  /** Product-quantization ANN under the driver oracle — see [[Pq]] for
    * the method and the 100 TB shape. Like [[simKmeansIvf]], training
    * (subspace-keyed deterministic Lloyd) is the declared non-SQL
    * step; everything downstream is gated: the trained codebooks are
    * persisted and read back, and DuckDB replays subvector slicing,
    * argmin code assignment (identical ‖v‖²−2v·c+‖c‖² double
    * arithmetic, lowest-cid ties), the per-query ADC distance table,
    * the subspace-ordered lookup-sum fold, and the top-3 ranking
    * UNDER the approximate distances — a wrong codeword, a drifted
    * table entry, or a re-ordered fold all hash-fail. Queries are
    * vec_id < 10; output ranks by ADC distance ascending.
    */
  def simPq(s: SparkSession, dir: String): DataFrame = {
    val vectors = graft.core.FanOut(Tables(s, dir).embeddings)
      .select(col("vec_id"), col("embedding"))
    val subs = Pq.subvectors(vectors)
    Pq.train(subs, Pq.PqK, Pq.PqIters)
      .write.mode("overwrite").parquet(PqCodebookDir)
    // read BACK so encoding provably uses the persisted table the
    // oracle will read — not a diverging in-memory lineage
    val cb = s.read.parquet(PqCodebookDir)
    val codes = Pq.encode(subs, cb).select(col("vec_id"), col("m"), col("cid"))
    val dtable = Pq.distanceTable(subs.where(col("vec_id") < 10), cb)
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    Pq.adcDistances(codes, broadcast(dtable))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("adc"), 6).as("adc"))
      .orderBy("query_id", "rank")
  }

  /** INT8 symmetric quantization + dequantized-cosine top-k — the
    * memory-bound face of 100 TB ANN: a 64-dim float32 embedding table
    * is 256 B/row of scan; per-vector symmetric int8 (scale =
    * max|x|/127, q = round(x/scale)) cuts that 4× (64 B + one float
    * scale), and candidate RERANKING runs on the dequantized values
    * q·scale without touching the full-precision column at all. The
    * whole quantize → dequantize → cosine → top-k pipeline is per-row
    * expression work over the scan (no shuffle before the rank window),
    * and every step is engine-exact arithmetic: round() is half-away-
    * from-zero on the identical doubles in both engines, so the DuckDB
    * oracle replays the quantized RANKING, not just the values —
    * a lossy-compression bug (wrong scale, asymmetric clamp, float
    * drift) reorders some top-k and hash-fails. Int8QuantSpec
    * additionally bounds the quantization error (≤ scale/2 per dim)
    * and measures recall@3 against the exact brute-force ranking.
    */
  def simInt8Topk(s: SparkSession, dir: String): DataFrame = {
    val scale = (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      / lit(127.0)).as("scale")
    val e = graft.core.FanOut(Tables(s, dir).embeddings)
      .select(col("vec_id"), col("embedding"), scale)
      .where(col("scale") > 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("scale")) * col("scale")).as("dq"))
      .select(col("vec_id"), col("dq"),
        sqrt(dotD(col("dq"), col("dq"))).as("norm"))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("dq").as("eq"), col("norm").as("nq"))
    val c = e.select(col("vec_id"), col("dq").as("ec"), col("norm").as("nc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("vec_id"))
    q.join(c, col("query_id") =!= col("vec_id"))
      .withColumn("qcos", dotD(col("eq"), col("ec")) / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("qcos"), 6).as("qcos"))
      .orderBy("query_id", "rank")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_brute" -> (simTopkBrute _),
    "sim_ivf_bucket" -> (simIvfBucket _),
    "sim_kmeans_ivf" -> (simKmeansIvf _),
    "sim_kmeans_ivf_sampled" -> (simKmeansIvfSampled _),
    "sim_knn_join" -> (simKnnJoin _),
    "sim_knn_join_capped" -> (simKnnJoinCapped _),
    "sim_int8_topk" -> (simInt8Topk _),
    "sim_pq" -> (simPq _),
    "sim_ivfpq" -> (IvfPq.simIvfPq _),
    "sim_ivfpq_sampled" -> (IvfPq.simIvfPqSampled _),
    "sim_ivfpq_rerank" -> (IvfPq.simIvfPqRerank _),
  )

  private val dotSql =
    (a: String, b: String) =>
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
         |      (x, y) -> x + y)""".stripMargin

  private val cosineSql =
    s"""${dotSql("eq", "ec")}
       |    / (sqrt(${dotSql("eq", "eq")}) * sqrt(${dotSql("ec", "ec")}))""".stripMargin

  private val cellSql = (e: String) => (1 to BucketDims).map(i =>
    s"CASE WHEN $e[$i] >= 0 THEN '+' ELSE '-' END").mkString(" || ")

  /** The k-means-IVF replay, parameterized on the model table — shared
    * by the full- and sampled-training twins (see the `oracles` notes).
    */
  private def kmeansOracleSqlFor(centDir: String): String =
    s"""WITH cent AS (
       |  SELECT cid, centroid
       |  FROM read_parquet('$centDir/*.parquet')),
       |d AS (
       |  SELECT e.vec_id, e.embedding, cent.cid,
       |    ${dotSql("embedding", "embedding")}
       |      - 2.0 * ${dotSql("embedding", "centroid")}
       |      + ${dotSql("centroid", "centroid")} AS d2
       |  FROM embeddings e CROSS JOIN cent),
       |rk AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crank
       |  FROM d),
       |q AS (
       |  SELECT cid AS cell, vec_id AS query_id, embedding AS eq
       |  FROM rk WHERE crank <= $KmeansProbes AND vec_id < 20),
       |c AS (SELECT cid AS cell, vec_id, embedding AS ec FROM rk WHERE crank = 1),
       |scored AS (
       |  SELECT query_id, c.cell AS cell, vec_id,
       |    $cosineSql AS cos_exact
       |  FROM q JOIN c ON q.cell = c.cell WHERE query_id <> vec_id),
       |ranked AS (
       |  SELECT query_id, cell, vec_id, cos_exact,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_exact DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cell, round(cos_exact, 6) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_topk_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding AS ec FROM embeddings),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    $cosineSql AS cos_exact
         |  FROM q JOIN c ON query_id <> vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_exact DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(cos_exact, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "sim_ivf_bucket" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${cellSql("embedding")} AS cell
         |  FROM embeddings),
         |q AS (
         |  SELECT unnest(list_prepend(cell, list_transform(range(1, ${BucketDims + 1}),
         |      i -> substr(cell, 1, i - 1)
         |        || (CASE WHEN substr(cell, i, 1) = '+' THEN '-' ELSE '+' END)
         |        || substr(cell, i + 1, $BucketDims - i)))) AS cell,
         |    vec_id AS query_id, embedding AS eq
         |  FROM e WHERE vec_id < 20),
         |c AS (SELECT cell, vec_id, embedding AS ec FROM e),
         |scored AS (
         |  SELECT query_id, c.cell AS cell, vec_id,
         |    $cosineSql AS cos_exact
         |  FROM q JOIN c ON q.cell = c.cell WHERE query_id <> vec_id),
         |ranked AS (
         |  SELECT query_id, cell, vec_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_exact DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, cell, round(cos_exact, 6) AS cosine
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // Replays assignment + search over the centroids the engine TRAINED
    // and persisted: same squared-distance double arithmetic
    // (nv2 - 2·dot + nc2, left folds), same lowest-cid tie-break, same
    // probe budget, same exact-cosine rerank. Training itself is the
    // declared non-SQL step; everything downstream of the persisted
    // table is gated here.
    "sim_kmeans_ivf" -> kmeansOracleSqlFor(KmeansCentroidDir),
    // Shared verbatim with the full-training twin: past training, the
    // two queries ARE the same query against different model tables.
    "sim_kmeans_ivf_sampled" -> kmeansOracleSqlFor(SampledKmeansCentroidDir),
    // the k-NN-join replay: same argmin assignment CTE over the model
    // the engine trained, then the cell self-join and the per-vector
    // (cosine desc, nbr_id) rank — a cross-cell candidate, a missed
    // same-cell one, or a tie broken the other way all hash-fail
    "sim_knn_join" ->
      s"""WITH cent AS (
         |  SELECT cid, centroid
         |  FROM read_parquet('$KnnCentroidDir/*.parquet')),
         |d AS (
         |  SELECT e.vec_id, e.embedding, cent.cid,
         |    ${dotSql("embedding", "embedding")}
         |      - 2.0 * ${dotSql("embedding", "centroid")}
         |      + ${dotSql("centroid", "centroid")} AS d2
         |  FROM embeddings e CROSS JOIN cent),
         |rk AS (
         |  SELECT vec_id, embedding, cid AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crank
         |  FROM d),
         |probe AS (SELECT vec_id, embedding, cell FROM rk
         |  WHERE crank <= $KmeansProbes),
         |asg AS (SELECT vec_id, embedding, cell FROM rk WHERE crank = 1),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    ${dotSql("a.embedding", "b.embedding")}
         |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |        * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_exact
         |  FROM probe a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nbr_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_exact DESC, nbr_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT vec_id, rank, nbr_id, round(cos_exact, 6) AS cosine
         |FROM ranked WHERE rank <= $KnnJoinK ORDER BY vec_id, rank""".stripMargin,
    // the CAPPED k-NN-join replay: the engineered-clone corpus, the
    // same argmin assignment over the persisted (capped-run) model,
    // then counts → mean → the greatest(cap, 4·mean) trigger → the
    // md5-coin rank sample on the candidate side → the probe-side
    // join and per-vector rank. The cap arithmetic is deterministic
    // SQL end to end, so the production keep/drop rule itself is
    // under the hash — not just the spec fixture.
    "sim_knn_join_capped" ->
      s"""WITH vecs AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT e.vec_id + $KnnCloneIdOffset AS vec_id, s0.embedding
         |  FROM embeddings e CROSS JOIN
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) s0),
         |cent AS (
         |  SELECT cid, centroid
         |  FROM read_parquet('$KnnCappedCentroidDir/*.parquet')),
         |d AS (
         |  SELECT v.vec_id, v.embedding, cent.cid,
         |    ${dotSql("embedding", "embedding")}
         |      - 2.0 * ${dotSql("embedding", "centroid")}
         |      + ${dotSql("centroid", "centroid")} AS d2
         |  FROM vecs v CROSS JOIN cent),
         |rk AS (
         |  SELECT vec_id, embedding, cid AS cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crank
         |  FROM d),
         |probe AS (SELECT vec_id, embedding, cell FROM rk
         |  WHERE crank <= $KmeansProbes),
         |asg AS (SELECT vec_id, embedding, cell FROM rk WHERE crank = 1),
         |cc AS (SELECT cell, count(*) AS cc FROM asg GROUP BY cell),
         |mstat AS (SELECT sum(cc)::DOUBLE / count(*) AS mean FROM cc),
         |crk AS (
         |  SELECT a.cell, a.vec_id, a.embedding, c.cc,
         |    row_number() OVER (PARTITION BY a.cell
         |      ORDER BY md5('graft-knn-cand|' || CAST(a.vec_id AS VARCHAR)),
         |        a.vec_id) AS crk
         |  FROM asg a JOIN cc c USING (cell)),
         |cand AS (
         |  SELECT cell, vec_id, embedding FROM crk, mstat
         |  WHERE cc <= greatest($KnnCandCap, 4 * mean) OR crk <= $KnnCandCap),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    ${dotSql("a.embedding", "b.embedding")}
         |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |        * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_exact
         |  FROM probe a JOIN cand b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nbr_id, cos_exact,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_exact DESC, nbr_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT vec_id, rank, nbr_id, round(cos_exact, 6) AS cosine
         |FROM ranked WHERE rank <= $KnnJoinK ORDER BY vec_id, rank""".stripMargin,
    // Replays PQ end to end over the codebooks the engine TRAINED and
    // persisted: same subvector slicing, same argmin code assignment
    // (nv2 - 2·dot + nc2 left folds, lowest-cid ties), same per-query
    // ADC table, and the SAME subspace-ordered fold for the lookup sum
    // (list_prepend 0.0 + list(… ORDER BY m) ≡ Spark's sorted-array
    // aggregate), so the approximate-distance ranking is bit-stable
    // across engines. Training is the declared non-SQL step.
    "sim_pq" ->
      s"""WITH cb AS (
         |  SELECT m, cid, centroid
         |  FROM read_parquet('$PqCodebookDir/*.parquet')),
         |sub AS (
         |  SELECT vec_id, ms.m AS m,
         |    list_slice(embedding, ms.m * ${Pq.SubspaceDim} + 1,
         |      ms.m * ${Pq.SubspaceDim} + ${Pq.SubspaceDim}) AS sv
         |  FROM embeddings, (SELECT unnest(range(0, ${Pq.SubspaceCount})) AS m) ms),
         |d AS (
         |  SELECT s.vec_id, s.m, cb.cid,
         |    ${dotSql("sv", "sv")}
         |      - 2.0 * ${dotSql("sv", "centroid")}
         |      + ${dotSql("centroid", "centroid")} AS d2
         |  FROM sub s JOIN cb ON s.m = cb.m),
         |codes AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
         |    FROM d)
         |  WHERE rn = 1),
         |dtab AS (SELECT vec_id AS query_id, m, cid, d2 FROM d WHERE vec_id < 10),
         |adc AS (
         |  SELECT t.query_id, c.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE, list(t.d2 ORDER BY c.m)),
         |      (x, y) -> x + y) AS adc
         |  FROM codes c JOIN dtab t ON c.m = t.m AND c.cid = t.cid
         |  WHERE t.query_id <> c.vec_id
         |  GROUP BY t.query_id, c.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, adc,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, vec_id) AS INTEGER) AS rank
         |  FROM adc)
         |SELECT query_id, rank, vec_id, round(adc, 6) AS adc
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // Replays the full quantize → dequantize → cosine → rank pipeline:
    // identical per-vector scale (max|x|/127 on doubles), identical
    // half-away-from-zero round on the identical quotients, identical
    // left-fold cosine over the dequantized doubles — so the RANKING
    // under quantization must match, not just the rounded values.
    "sim_int8_topk" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE / scale) * scale) AS dq
         |  FROM e0 WHERE scale > 0),
         |q AS (SELECT vec_id AS query_id, dq AS eq FROM e WHERE vec_id < 10),
         |c AS (SELECT vec_id, dq AS ec FROM e),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    $cosineSql AS qcos
         |  FROM q JOIN c ON query_id <> vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, qcos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY qcos DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id, round(qcos, 6) AS qcos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "sim_ivfpq" -> IvfPq.oracleSql,
    "sim_ivfpq_sampled" -> IvfPq.sampledOracleSql,
    "sim_ivfpq_rerank" -> IvfPq.rerankOracleSql,
  )
}
