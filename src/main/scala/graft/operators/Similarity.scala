package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Determinism strategy: embeddings are quantized to integer milli-units
  * (`round(x·1000)` as bigint — the int8/int16 quantization pattern used
  * by production ANN systems). Integer dot products are exact and
  * order-independent, so similarity scores are bit-identical in any
  * engine; cosine then needs only three correctly-rounded double ops
  * (sqrt, mul, div). This is what makes the brute-force variant DuckDB-
  * oracle-able.
  *
  * Scale design (100 TB):
  *  - brute-force top-k broadcasts the (small) query set and computes
  *    per-partition partial top-k before the final window — the fact
  *    (corpus) side never shuffles;
  *  - the LSH variant (random-hyperplane signatures) buckets the corpus
  *    so candidate generation is a bucket-equi-join, the standard
  *    sub-linear path when the query set is itself huge;
  *  - an IVF-style variant would cluster on label (coarse quantizer) —
  *    `labelCentroids` is that building block.
  */
object Similarity {

  /** Shared knobs for the ANN kernels AND their audit pins (s08/s09).
    * Single-sourced so a tuning change cannot silently desynchronize a
    * pin from the routing the kernel actually uses — the pins audit
    * `knnIvf()`/`knnLsh()` at these same defaults. */
  private[graft] val DefaultQueryMod = 100
  private[graft] val IvfNProbe = 2

  /** Quantized embedding: exact bigint milli-units. */
  private val qCol = expr(
    "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))")

  /** Exact integer dot product of two bigint arrays — native expression
    * (one tight loop; the HOF formulation allocates and runs lambdas
    * per element). Integer math ⇒ identical values either way. */
  private def idot(a: String, b: String): Column =
    graft.functions.DotLL.dot_ll(col(a), col(b))

  /** vec_id, quantized vector, double norm (deterministic). */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), qCol.as("qv"))
      .withColumn("nrm", sqrt(idot("qv", "qv").cast("double")))

  /** Exhaustively scored (query, candidate) pairs: every query
    * (vec_id ≡ 0 mod queryMod) against the whole corpus, exact
    * integer-quantized cosine. The ranking-free core both the brute
    * force and the s08 score-integrity pin consume. */
  private[graft] def scoredAllPairs(emb: DataFrame, queryMod: Int): DataFrame = {
    val base = quantized(emb)
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    base
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", idot("qv", "q_qv").cast("double") / (col("nrm") * col("q_nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Brute-force cosine top-k: every query (vec_id ≡ 0 mod queryMod)
    * against the whole corpus; ties broken by neighbor id. */
  def knnBruteForce(emb: DataFrame, k: Int = 5, queryMod: Int = DefaultQueryMod): DataFrame =
    topKPer(scoredAllPairs(emb, queryMod), Seq(col("q_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .select(col("q_id"), col("neighbor_id"), col("rk"), col("cos"))

  /** Hard-negative mining for contrastive/embedding training (the
    * in-batch-negatives upgrade every dense-retriever recipe calls for,
    * e.g. DPR/ANCE): for each query vector, the top-`k` most similar
    * corpus vectors whose `label` DIFFERS from the query's — the
    * near-miss impostors that make the strongest training negatives.
    * Exact integer-quantized cosine (the [[scoredAllPairs]] arithmetic)
    * with the label disequality as the join predicate, so the label
    * filter prunes BEFORE scoring rather than discarding ranked rows.
    * Deterministic (cos desc, neighbor_id) ranking. Scale shape is
    * s01's: queries broadcast, corpus never shuffles for the score, the
    * per-query top-k window is the one q_id exchange; label filtering
    * only shrinks that exchange. At production scale the brute scan
    * swaps for the IVF shortlist (s05/s14) with the same label guard —
    * this is the exact baseline the recall of that swap is measured
    * against (the s01/recallVsExact relationship). */
  def hardNegatives(emb: DataFrame, k: Int = 5,
                    queryMod: Int = DefaultQueryMod): DataFrame = {
    val base = quantized(emb)
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val scored = base
      .join(broadcast(queries), col("label") =!= col("q_label"))
      .withColumn("cos", idot("qv", "q_qv").cast("double") / (col("nrm") * col("q_nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"), col("cos"))
    topKPer(scored, Seq(col("q_id")), Seq(col("cos").desc, col("neighbor_id")), k)
      .select(col("q_id"), col("neighbor_id"), col("neg_label"), col("rk"), col("cos"))
  }

  /** Recall@k of the IVF approximate search against the exact brute
    * force, AS A QUERY — the eval every ANN deployment runs when tuning
    * nProbe, computed inside the engine instead of a notebook: per
    * query, how many of [[knnIvf]]'s top-k appear in
    * [[knnBruteForce]]'s top-k (both deterministic, so recall is a
    * VALUE, not a statistic — the oracle replays both pipelines and
    * intersects them in SQL). `n_matched` ∈ [0, k], `recall_x1e4` its
    * scaled integer ratio. The spec-side `recallVsExact` measurement
    * (SimilaritySpec) stays the tuning harness; this puts the same
    * number under the correctness gate. Scale: both sides are the
    * already-bounded top-k relations (queries × k rows — tiny at any
    * corpus size); the intersection join is on (q_id, neighbor_id). */
  def ivfRecall(emb: DataFrame, k: Int = 5,
                queryMod: Int = DefaultQueryMod): DataFrame = {
    val brute = knnBruteForce(emb, k, queryMod)
      .select(col("q_id"), col("neighbor_id"))
    val ivf = knnIvf(emb, k, queryMod)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(ivf, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("hit")).as("n_matched"))
      .withColumn("recall_x1e4", expr(s"(n_matched * 10000) div $k"))
  }

  /** Affine uint8 quantization of the milli-lane vectors — the storage
    * compression step serving-side ANN runs before indexing (4 bytes →
    * 1 byte per dim): per vector, q_i = ((lane − min) · 255) div
    * (max − min) ∈ [0, 255], with the (min, max) pair kept for
    * dequantization. All-integer arithmetic on a non-negative numerator,
    * so truncating `div` and DuckDB `//` agree exactly; a constant
    * vector (max == min) quantizes to zeros. Emits a compact
    * characterization (sum + first/last code), not 64 columns. Narrow
    * map, no shuffle. */
  def quantizeUint8(emb: DataFrame): DataFrame =
    quantized(emb)
      .withColumn("mn", array_min(col("qv")))
      .withColumn("mx", array_max(col("qv")))
      .withColumn("q", when(col("mx") > col("mn"),
          expr("transform(qv, x -> ((x - mn) * 255) div (mx - mn))"))
        .otherwise(expr("transform(qv, x -> CAST(0 AS BIGINT))")))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
        element_at(col("q"), 1).as("q_first"),
        element_at(col("q"), -1).as("q_last"))

  /** Fixed-iteration Lloyd k-means over the quantized embedding space —
    * the learned-clustering step curation pipelines run between
    * embedding and dedup (cluster-then-dedup-within, SemDeDup; IVF list
    * learning). Every step is engine-replayable, so the whole unrolled
    * recurrence carries a DuckDB oracle (the g01 fixed-point pattern
    * applied to clustering):
    *  - seeds = the k smallest vec_ids' vectors (deterministic);
    *  - assignment = exact integer squared-L2 argmin, ties to the
    *    smallest centroid id;
    *  - update = floor(mean) per dimension — exact in double for any
    *    realistic magnitude (|sum| « 2⁵³), floor ≡ DuckDB.
    *
    * Scale: the corpus NEVER shuffles for assignment — the k centroids
    * collapse to ONE broadcast row carrying an array of (cid, cv)
    * structs, and the argmin is a per-row fold over that array (a
    * narrow map). The only exchange per iteration is the centroid
    * update: map-side-combined partial sums keyed by (cid, dim) —
    * k·dim rows of traffic regardless of corpus size. Seeds always
    * keep themselves (dist 0 at iter 1), so no empty-cluster rule is
    * needed. More iterations = the same loop body (with g01-style
    * lineage cuts); the per-element HOF distance would get the DotLL
    * native treatment if iteration count grew hot.
    *
    * Split into [[assignFull]] (generic argmin) + [[kmeansCentroids]]
    * (the trained centroids) + [[kmeansAssign]] (the s11 surface) so
    * the IVF-PQ routing can reuse the same trained quantizer. */
  /** Nearest-centroid assignment over the FULL 64-dim space: the
    * centroids collapse to ONE broadcast row of (cid, cv) structs and
    * the argmin is a per-row fold ([[nearest]]) — a narrow map, the
    * corpus never shuffles. Returns (vec_id, qv, cid, d2). */
  private def assignFull(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents.agg(cidSorted)))
      .withColumn("best", nearest("qv"))
      .select(col("vec_id"), col("qv"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))

  /** Exact integer squared-L2 distance between two bigint array
    * columns, as a SQL fragment (it also runs inside the argmin fold's
    * lambdas, where only SQL text can name the lambda's variables). */
  private def l2Sql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (a, v) -> a + v)"

  /** The centroids of one group as a cid-sorted array `cs` of (cid, cv)
    * structs — the broadcast side of the argmin fold. */
  private val cidSorted: Column =
    expr("array_sort(collect_list(struct(cid, cv)), (l, r) -> CASE " +
      "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END)").as("cs")

  /** Argmin of the L2² from the `v` vector to each centroid in `cs`, as
    * a (d2, cid) struct. Each distance is computed once (transform),
    * then a cheap struct fold — inlining the distance into the IF would
    * evaluate the fold twice per centroid (Catalyst does not CSE inside
    * HOF lambdas); strict < keeps ties at the smallest cid since `cs`
    * is cid-sorted. */
  private def nearest(v: String): Column = expr(
    s"""aggregate(
          transform(cs, c -> named_struct('d2', ${l2Sql(v, "c.cv")}, 'cid', c.cid)),
          named_struct('d2', CAST(4611686018427387903 AS BIGINT),
                       'cid', CAST(-1 AS BIGINT)),
          (acc, t) -> IF(t.d2 < acc.d2, t, acc))""")

  /** One Lloyd update: per (`keys`, cid), the floor of the mean of each
    * dimension of the assigned `v` vectors — exact in double for any
    * realistic magnitude (|sum| « 2⁵³), floor ≡ DuckDB. Returns
    * (`keys`, cid, cv); the only exchange is the map-side-combined
    * partial sums keyed by (`keys`, cid, dim). */
  private def floorMeans(assigned: DataFrame, keys: Seq[String], v: String): DataFrame = {
    val g = (keys :+ "cid").map(col)
    assigned.select(g :+ posexplode(col(v)).as(Seq("dim", "v")): _*)
      .groupBy(g :+ col("dim"): _*)
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("m"))
      .groupBy(g: _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(g :+ expr("transform(dm, x -> x.m)").as("cv"): _*)
  }

  /** The k centroids after one deterministic Lloyd step (seeds = the k
    * smallest vec_ids' vectors, exact integer argmin, floor-mean
    * update) — the trained coarse quantizer both kmeansAssign and the
    * IVF-PQ routing consume. k·64 longs — a broadcast literal. */
  def kmeansCentroids(emb: DataFrame, k: Int = 4): DataFrame = {
    val base = quantized(emb).select(col("vec_id"), col("qv"))
    val seeds = base.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))
    floorMeans(assignFull(base, seeds), Nil, "qv")
  }

  def kmeansAssign(emb: DataFrame, k: Int = 4): DataFrame =
    assignFull(quantized(emb).select(col("vec_id"), col("qv")),
        kmeansCentroids(emb, k))
      .select(col("vec_id"), col("cid").as("cluster_id"), col("d2").as("dist2"))

  // ------------------------------------------------------- product quant
  /** The 64-dim milli-vector split into `m` contiguous subvectors of
    * `subDim` dims — the decomposition product quantization runs on.
    * One narrow explode; (vec_id, s) rows never shuffle downstream
    * except where a kernel says so. */
  private[graft] def subvectors(emb: DataFrame, m: Int = 8,
                                subDim: Int = 8): DataFrame =
    subvectorsOf(quantized(emb), m, subDim)

  /** The subspace split over ALREADY-quantized (vec_id, qv) rows — so
    * a persisted quantized layout ([[buildIvfPqIndex]]'s `vectors`
    * relation) feeds the same kernels without re-quantizing raw
    * floats. */
  private def subvectorsOf(base: DataFrame, m: Int, subDim: Int): DataFrame =
    base.select(col("vec_id"),
      explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), slice(col("qv"), s * subDim + 1, subDim).as("sub"))
      }: _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sub").as("sub"))

  /** Nearest-centroid assignment of subvectors, per subspace: the
    * kmeansAssign argmin fold applied under an `s` key — the per-s
    * codebooks collapse to m broadcast rows of (cid, cv) structs, the
    * argmin is a per-row fold, the corpus never shuffles. Exact integer
    * L2², ties to the smallest cid. */
  private def assignSub(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents.groupBy(col("s")).agg(cidSorted)), Seq("s"))
      .withColumn("best", nearest("sub"))
      .select(col("vec_id"), col("s"), col("sub"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))

  /** Per-subspace PQ codebooks — k codewords per subspace trained with
    * the s11 recipe restricted to each subspace (deterministic seeds =
    * the k smallest vec_ids' subvectors, one Lloyd step with exact
    * integer argmin and floor-mean updates), so the whole training
    * recurrence stays engine-replayable. Codebook size m·k rows — a
    * broadcast literal at any corpus size. */
  def pqCodebooks(emb: DataFrame, m: Int = 8, subDim: Int = 8,
                  k: Int = 4): DataFrame = {
    val sub = subvectors(emb, m, subDim)
    val seedIds = quantized(emb).select(col("vec_id"))
      .orderBy(col("vec_id")).limit(k)
    val seeds = sub.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("s"), col("vec_id").as("cid"), col("sub").as("cv"))
    floorMeans(assignSub(sub, seeds), Seq("s"), "sub")
  }

  /** PQ ENCODE: each vector compresses to m codeword ids (+ the exact
    * per-subspace reconstruction error) — 64 dims → m bytes, the
    * storage step IVF-PQ (the canonical 100 TB ANN layout: IVF routes,
    * PQ compresses the lists) runs before indexing. Narrow: codebooks
    * broadcast, corpus never shuffles. */
  def pqCodes(emb: DataFrame, m: Int = 8, subDim: Int = 8,
              k: Int = 4): DataFrame =
    assignSub(subvectors(emb, m, subDim), pqCodebooks(emb, m, subDim, k))
      .select(col("vec_id"), col("s"), col("cid").as("code"), col("d2"))

  /** PQ ASYMMETRIC-DISTANCE top-k: per query, the distance to a
    * compressed vector is the sum over subspaces of d2(query_sub,
    * codeword(code)) — looked up from a per-query distance table of
    * m·k entries built ONCE (the ADC trick: k·m exact distances per
    * query replace n·64-dim arithmetic). The table (nq·m·k rows)
    * broadcasts; the codes side joins it map-side, partial-aggregates
    * the per-subspace terms before any shuffle (n·nq combined rows ride
    * the exchange, never n·m·nq), and WindowGroupLimit bounds the
    * final top-k sort. Exact integer arithmetic end to end, determinate
    * ties (adc, vec_id) — hence the full value oracle. Trains in-query;
    * no catalog row calls it — SimilaritySpec and StreamingSpec use it
    * as the reference the persisted-index serves must equal. */
  def pqAdcTopK(emb: DataFrame, topK: Int = 5, queryMod: Int = 400,
                m: Int = 8, subDim: Int = 8, k: Int = 4): DataFrame = {
    val cb = pqCodebooks(emb, m, subDim, k)
    // encode against the codebooks ALREADY in scope — calling pqCodes()
    // here would silently re-run the whole training chain a second time
    adcTopKFromIndex(emb, cb, encodeWithCodebooks(emb, cb, m, subDim),
      topK, queryMod, m, subDim)
  }

  /** The ADC serve path against a PREBUILT index — (codebooks, codes)
    * however they were obtained: freshly trained (pqAdcTopK) or read
    * back from a persisted parquet layout (s15). This split is the
    * build-once/query-many lifecycle a production ANN index lives:
    * training is amortized over every query batch, and the serving
    * plan touches only m-byte codes plus a broadcast distance table. */
  private def adcTopKFromIndex(emb: DataFrame, cb: DataFrame,
                               codes: DataFrame, topK: Int, queryMod: Int,
                               m: Int, subDim: Int): DataFrame =
    adcServeQueries(emb.filter(col("vec_id") % queryMod === 0),
      cb, codes, topK, m, subDim)

  /** ADC serve for an EXPLICIT query batch — the kernel one arriving
    * batch of queries runs against a static (codebooks, codes) index:
    * per-query m·k distance table (broadcast), map-side partial sums
    * over the codes, WindowGroupLimit-bounded top-k. Shared by the
    * batch entries (queries = a filter of the corpus) and the st21
    * streaming serve (queries = the current micro-batch), which is
    * exactly the point: a query batch is a query batch, whether it
    * arrived via a filter or via a stream. `qEmb` needs (vec_id,
    * label, embedding) rows. */
  private[graft] def adcServeQueries(qEmb: DataFrame, cb: DataFrame,
                                     codes: DataFrame, topK: Int = 5,
                                     m: Int = 8, subDim: Int = 8): DataFrame =
    adcServeQuantized(quantized(qEmb), cb, codes, topK, m, subDim)

  /** [[adcServeQueries]] over ALREADY-quantized (vec_id, qv) query
    * rows — so a persisted quantized layout ([[buildIvfPqIndex]]'s
    * `vectors` relation) serves query batches without touching raw
    * floats, the same split [[subvectorsOf]] gives the corpus side. */
  private def adcServeQuantized(qVec: DataFrame, cb: DataFrame,
                                codes: DataFrame, topK: Int,
                                m: Int, subDim: Int): DataFrame =
    adcTopK(adcScoredPairsQuantized(qVec, cb, codes, m, subDim), topK)

  /** The per-(query, vector) ADC distance relation BEFORE the top-k
    * rank. A vector's ADC depends only on its OWN m code rows + the
    * frozen codebooks, so the relation is segment-decomposable: scoring
    * code segments independently and unioning the per-pair rows equals
    * scoring all codes at once. */
  private def adcScoredPairsQuantized(qVec: DataFrame, cb: DataFrame,
                                      codes: DataFrame, m: Int,
                                      subDim: Int): DataFrame =
    codes.join(broadcast(adcTable(qVec, cb, m, subDim)), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dq")).as("adc"))

  /** The per-query ADC distance table (q_id, s, code, dq): the exact
    * integer L2² from each query subvector to every codeword of its
    * subspace — nq·m·k rows, built once per query batch. */
  private def adcTable(qVec: DataFrame, cb: DataFrame, m: Int,
                       subDim: Int): DataFrame =
    subvectorsOf(qVec, m, subDim)
      .select(col("vec_id").as("q_id"), col("s"), col("sub").as("qsub"))
      .join(broadcast(cb), Seq("s"))
      .select(col("q_id"), col("s"), col("cid").as("code"), expr(l2Sql("qsub", "cv")).as("dq"))

  /** The ADC rank tail: deterministic top-`topK` per query (adc asc,
    * vec_id asc tiebreak) over a scored (q_id, vec_id, adc) relation. */
  private def adcTopK(scored: DataFrame, topK: Int): DataFrame =
    topKPer(scored, Seq(col("q_id")), Seq(col("adc"), col("vec_id")), topK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("adc"))

  /** Train the PQ index for `emb` and persist its two relations —
    * codebooks (m·k rows) and codes (n·m rows) — under `dir`. The
    * build half of the build-once/serve-many lifecycle: [[pqIndexRoundtrip]]
    * (s15) serves straight back from this layout, the s17 steady-state
    * upsert appends delta codes to it, and the st21 streaming serve
    * answers query batches from it. Codes encode against the READ-BACK
    * codebooks so the training DAG executes exactly once. At 100 TB the
    * codes relation would be written bucketed by vec_id alongside the
    * corpus so serving joins stay exchange-free. */
  def buildPqIndex(emb: DataFrame, dir: String, m: Int = 8,
                   subDim: Int = 8, k: Int = 4): Unit = {
    val spark = emb.sparkSession
    pqCodebooks(emb, m, subDim, k)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    val cb = spark.read.parquet(s"$dir/codebooks")
    encodeWithCodebooks(emb, cb, m, subDim)
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** PQ-encode `emb` against GIVEN (frozen) codebooks: the (vec_id, s,
    * code) rows of the codes relation — a narrow map (codebooks
    * broadcast inside assignSub, the corpus never shuffles). The
    * delta-encode kernel of the upsert paths (s17) and the st22
    * streaming ingest, and the encode half of [[buildPqIndex]]. */
  private[graft] def encodeWithCodebooks(emb: DataFrame, cb: DataFrame,
                                         m: Int = 8, subDim: Int = 8): DataFrame =
    assignSub(subvectors(emb, m, subDim), cb)
      .select(col("vec_id"), col("s"), col("cid").as("code"))

  /** Index PERSISTENCE roundtrip: train + encode, write the index (two
    * small parquet relations — m·k codebook rows, n·m code rows), read
    * it back, and serve the ADC query from the SAVED layout. Shares
    * s13's oracle verbatim: persistence must be invisible to results.
    * At 100 TB the codes relation would be written bucketed by vec_id
    * alongside the corpus so serving joins stay exchange-free. */
  def pqIndexRoundtrip(emb: DataFrame, indexDir: String, topK: Int = 5,
                       queryMod: Int = 400, m: Int = 8, subDim: Int = 8,
                       k: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    buildPqIndex(emb, indexDir, m, subDim, k)
    adcTopKFromIndex(emb,
      spark.read.parquet(s"$indexDir/codebooks"),
      spark.read.parquet(s"$indexDir/codes"),
      topK, queryMod, m, subDim)
  }

  /** Incremental index UPSERT — the maintenance op a live ANN index
    * runs on every ingestion batch: NEW vectors encode against the
    * EXISTING (frozen) codebooks — no retrain, no touch of the
    * already-encoded corpus — and serving immediately covers
    * base + delta. Base = vec_id % 10 ≠ 0 trains the codebooks; the
    * delta (every 10th vector, the "new arrivals") encodes against
    * them; the ADC query — the query set itself lies in the delta —
    * is answered over the merged code set. At 100 TB the delta encode
    * is a narrow map over the arrival batch alone (codebooks are a
    * broadcast literal), appended to the codes relation; quantization
    * drift as the distribution shifts is the documented trade, with
    * s12's reconstruction-error telemetry as the retrain trigger.
    * Trains in-query; no catalog row calls it — SimilaritySpec uses it
    * as the reference [[pqIndexUpsertFromBase]] must equal. */
  def pqIndexUpsert(emb: DataFrame, topK: Int = 5, queryMod: Int = 400,
                    m: Int = 8, subDim: Int = 8, k: Int = 4): DataFrame = {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val cb = pqCodebooks(base, m, subDim, k)
    // encode base AND delta against the base-trained codebooks — one
    // encode stands in for "codes relation + delta append"
    adcTopKFromIndex(emb, cb, encodeWithCodebooks(emb, cb, m, subDim),
      topK, queryMod, m, subDim)
  }

  /** The STEADY-STATE half of the upsert loop — what every ingestion
    * batch after the first actually runs: the base index (codebooks
    * trained on the base population + the base rows' codes) already
    * sits persisted under `baseDir`; only the DELTA (every 10th
    * vector, the new arrivals) encodes in-query — a narrow map against
    * the broadcast read-back codebooks — and serving answers over
    * base-codes ∪ delta-codes. Same answer (and oracle) as
    * [[pqIndexUpsert]], which re-trains in-query and therefore prices
    * the amortized-at-scale training into every call; this variant
    * prices exactly what the 100 TB steady state pays per batch. */
  def pqIndexUpsertFromBase(emb: DataFrame, baseDir: String, topK: Int = 5,
                            queryMod: Int = 400, m: Int = 8,
                            subDim: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val cb = spark.read.parquet(s"$baseDir/codebooks")
    val baseCodes = spark.read.parquet(s"$baseDir/codes")
    val deltaCodes =
      encodeWithCodebooks(emb.filter(col("vec_id") % 10 === 0), cb, m, subDim)
    adcTopKFromIndex(emb, cb, baseCodes.unionByName(deltaCodes),
      topK, queryMod, m, subDim)
  }

  /** IVF-PQ: the composed 100 TB ANN layout — the coarse quantizer
    * routes each query to its nProbe nearest inverted lists, and the
    * fine search runs in the COMPRESSED domain (PQ codes + the per-query
    * ADC table), so a probe touches m-byte codes, never raw vectors.
    *
    * Unlike [[knnIvf]] (float-cosine routing over label lists — its
    * exactness is pinned, not oracled), this routing is the TRAINED
    * integer quantizer ([[kmeansCentroids]]: exact L2² argmin, (d2, cid)
    * ties), so the ENTIRE pipeline — coarse training, routing, PQ
    * training, encode, ADC — is engine-replayable and s14 carries a
    * full value-level oracle.
    *
    * Scale: centroids and the route table broadcast; list membership
    * (kmeansAssign) is a narrow fold; candidates = the probed fraction
    * of the corpus (·nProbe/k), met on a broadcast equi-join on cid —
    * at 100 TB the corpus is partitioned BY cid so a probe is partition
    * pruning. ADC joins ride broadcasts; per-subspace terms partial-
    * aggregate map-side; WindowGroupLimit bounds the top-k sort.
    * Trains in-query; no catalog row calls it — SimilaritySpec uses it
    * for the recall sweep and, through [[retrieveRerank]], as the
    * reference the persisted-index serve must equal. */
  def ivfPqTopK(emb: DataFrame, topK: Int = 5, queryMod: Int = 400,
                nProbe: Int = IvfNProbe, m: Int = 8, subDim: Int = 8,
                k: Int = 4): DataFrame = {
    val base = quantized(emb).select(col("vec_id"), col("qv"))
    val cents = kmeansCentroids(emb, k)
    // assign against the centroids ALREADY in scope — kmeansAssign()
    // would re-run the coarse training chain a second time
    val member = assignFull(base, cents)
      .select(col("vec_id"), col("cid"))
    // compressed-domain codes against the one trained codebook set
    // (pqCodes() would train a duplicate)
    val cb = pqCodebooks(emb, m, subDim, k)
    ivfPqServe(quantized(emb), cents, member, cb,
      encodeWithCodebooks(emb, cb, m, subDim), topK, queryMod, nProbe, m, subDim)
  }

  /** The IVF-PQ SERVE path against the index relations, however
    * obtained — freshly trained ([[ivfPqTopK]]) or read back from a
    * persisted layout ([[ivfPqTopKFromIndex]]): coarse routing (exact
    * integer L2² to each centroid, top-nProbe with (d2, cid) ties),
    * probed-list candidates on a broadcast cid equi-join, per-query ADC
    * table over only the candidates' codes. `vectors` carries
    * ALREADY-quantized (vec_id, qv) rows — raw floats are quantized
    * once, at build or train time, never per serve. */
  private def ivfPqServe(vectors: DataFrame, cents: DataFrame, member: DataFrame,
                         cb: DataFrame, codes: DataFrame, topK: Int,
                         queryMod: Int, nProbe: Int, m: Int,
                         subDim: Int): DataFrame = {
    val queries = vectors.filter(col("vec_id") % queryMod === 0)
    // query routing: exact integer L2² to each trained centroid
    // (nq·k rows), top-nProbe with (d2, cid) ties
    val dists = queries
      .select(col("vec_id").as("q_id"), col("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("rd2", expr(l2Sql("qv", "cv")))
    val route = topKPer(dists, Seq(col("q_id")), Seq(col("rd2"), col("cid")), nProbe)
      .select(col("q_id"), col("cid"))
    val cand = member.join(broadcast(route), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    adcTopK(cand.join(codes, Seq("vec_id"))
      .join(broadcast(adcTable(queries, cb, m, subDim)), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dq")).as("adc")), topK)
  }

  /** Train the FULL IVF-PQ index and persist its five relations under
    * `dir`: the QUANTIZED corpus (vec_id, qv, nrm — the storage layout
    * serving reads instead of re-quantizing raw floats per query
    * batch), coarse centroids (k rows), list membership (n rows),
    * PQ codebooks (m·k rows), PQ codes (n·m rows). Members and codes
    * encode against the READ-BACK trained relations so each training
    * DAG executes exactly once. At 100 TB: centroids + codebooks are
    * broadcast literals; vectors/members/codes live bucketed (or
    * partitioned BY cid) next to the corpus so a probe is partition
    * pruning — the layout s15/SinkSpec pin. */
  def buildIvfPqIndex(emb: DataFrame, dir: String, m: Int = 8,
                      subDim: Int = 8, k: Int = 4): Unit = {
    val spark = emb.sparkSession
    quantized(emb).select(col("vec_id"), col("qv"), col("nrm"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
    kmeansCentroids(emb, k).write.mode("overwrite").parquet(s"$dir/centroids")
    assignFull(spark.read.parquet(s"$dir/vectors").select(col("vec_id"), col("qv")),
        spark.read.parquet(s"$dir/centroids"))
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$dir/members")
    buildPqIndex(emb, dir, m, subDim, k)
  }

  /** IVF-PQ serve from the [[buildIvfPqIndex]] layout — the per-query-
    * batch cost of the 100 TB steady state, with training (and the
    * corpus quantization) amortized into the build. Same answer (and
    * oracle) as [[ivfPqTopK]]. */
  def ivfPqTopKFromIndex(spark: SparkSession, indexDir: String, topK: Int = 5,
                         queryMod: Int = 400, nProbe: Int = IvfNProbe,
                         m: Int = 8, subDim: Int = 8): DataFrame =
    ivfPqServe(spark.read.parquet(s"$indexDir/vectors"),
      spark.read.parquet(s"$indexDir/centroids"),
      spark.read.parquet(s"$indexDir/members"),
      spark.read.parquet(s"$indexDir/codebooks"),
      spark.read.parquet(s"$indexDir/codes"),
      topK, queryMod, nProbe, m, subDim)

  /** PQ ADC serve from a persisted [[buildIvfPqIndex]] layout — the
    * per-query-batch cost of the steady state: codebooks and codes read
    * back from parquet, queries drawn from the persisted quantized
    * `vectors` relation (quantization is deterministic, so these are
    * bit-identical to quantizing the raw floats). Same answer (and
    * oracle) as [[pqAdcTopK]], which trains in-query and therefore
    * prices the amortized-at-scale training into every call. */
  def pqAdcTopKFromIndex(spark: SparkSession, indexDir: String, topK: Int = 5,
                         queryMod: Int = 400, m: Int = 8,
                         subDim: Int = 8): DataFrame =
    adcServeQuantized(
      spark.read.parquet(s"$indexDir/vectors")
        .filter(col("vec_id") % queryMod === 0),
      spark.read.parquet(s"$indexDir/codebooks"),
      spark.read.parquet(s"$indexDir/codes"),
      topK, m, subDim)

  /** Two-stage retrieve + re-rank — the production ANN SERVING pattern
    * on top of the s14 index: stage 1 retrieves a `shortlist`-sized
    * candidate set in the compressed domain ([[ivfPqTopK]]: trained
    * coarse routing + ADC — cheap, m-byte codes); stage 2 re-scores
    * ONLY those candidates against the raw vectors with the exact
    * integer cosine and returns the top-k. This is how a 100 TB corpus
    * answers with near-exact quality at index cost: the expensive exact
    * arithmetic touches nq·shortlist rows, never nq·n.
    *
    * Scale: the shortlist (nq·shortlist rows) BROADCASTS to meet the
    * corpus on vec_id — the corpus never shuffles; query vectors ride a
    * second broadcast; WindowGroupLimit bounds the final sort. With
    * shortlist ≥ the probed candidate count the result is EXACTLY the
    * probed-set cosine ranking (SimilaritySpec pins full-probe+full-
    * shortlist ≡ brute force). Trains in-query; no catalog row calls
    * it — SimilaritySpec uses it as the reference
    * [[retrieveRerankFromIndex]] must equal. */
  def retrieveRerank(emb: DataFrame, topK: Int = 5, shortlist: Int = 25,
                     queryMod: Int = 400, nProbe: Int = IvfNProbe,
                     m: Int = 8, subDim: Int = 8, k: Int = 4): DataFrame =
    rerankShortlist(quantized(emb),
      ivfPqTopK(emb, shortlist, queryMod, nProbe, m, subDim, k)
        .select(col("q_id"), col("neighbor_id")),
      topK, queryMod)

  /** Retrieve + re-rank SERVING from the persisted [[buildIvfPqIndex]]
    * layout: stage 1 retrieves the shortlist in the compressed domain
    * against the saved index (no in-query training), stage 2 re-scores
    * only those candidates exactly against the saved quantized vectors
    * (no raw-float pass at all). Same answer (and oracle) as
    * [[retrieveRerank]]; the cost is the per-query-batch steady state
    * the 100 TB story amortizes to. */
  def retrieveRerankFromIndex(spark: SparkSession, indexDir: String,
                              topK: Int = 5, shortlist: Int = 25,
                              queryMod: Int = 400,
                              nProbe: Int = IvfNProbe): DataFrame =
    rerankShortlist(spark.read.parquet(s"$indexDir/vectors"),
      ivfPqTopKFromIndex(spark, indexDir, shortlist, queryMod, nProbe)
        .select(col("q_id"), col("neighbor_id")),
      topK, queryMod)

  /** Stage 2 of the two-stage serve: exact integer-cosine re-scoring of
    * a (q_id, neighbor_id) shortlist over quantized (vec_id, qv, nrm)
    * rows. The shortlist (nq·shortlist rows) BROADCASTS to meet the
    * corpus on vec_id — the corpus never shuffles; query vectors ride
    * a second broadcast; WindowGroupLimit bounds the final sort. */
  private def rerankShortlist(base: DataFrame, cands: DataFrame,
                              topK: Int, queryMod: Int): DataFrame = {
    val corpus = base.select(col("vec_id").as("neighbor_id"),
      col("qv").as("c_qv"), col("nrm").as("c_nrm"))
    val qvec = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    val scored = corpus.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("q_id"))
      .withColumn("cos",
        idot("c_qv", "q_qv").cast("double") / (col("c_nrm") * col("q_nrm")))
    topKPer(scored, Seq(col("q_id")), Seq(col("cos").desc, col("neighbor_id")), topK)
      .select(col("q_id"), col("neighbor_id"), col("rk"), col("cos"))
  }

  /** Prefix-dimension retrieve + refine — the Matryoshka-representation
    * serving pattern (Kusupati et al. 2022): embeddings trained so a
    * PREFIX of the dimensions is itself a usable representation let
    * stage 1 score candidates on the first `prefixDims` dims (a
    * `prefixDims/64` fraction of the arithmetic AND of the scanned
    * bytes — with a column layout storing the prefix separately, the
    * stage-1 scan reads only it), and stage 2 re-rank only the
    * `shortlist` survivors on all 64. Pure integer MIPS both stages —
    * fully oracle-replayable, unlike PQ no training step at all.
    *
    * Scale: queries broadcast (both stages); the corpus never shuffles;
    * WindowGroupLimit bounds both rank passes; stage 2 touches
    * nq·shortlist rows. */
  def prefixRefineTopK(emb: DataFrame, topK: Int = 5, prefixDims: Int = 16,
                       shortlist: Int = 50,
                       queryMod: Int = DefaultQueryMod): DataFrame = {
    val base = quantized(emb)
      .select(col("vec_id"), col("qv"), slice(col("qv"), 1, prefixDims).as("pv"))
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("pv").as("q_pv"))
    val pre = base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("ip_pre", idot("pv", "q_pv"))
    val cand = topKPer(pre, Seq(col("q_id")), Seq(col("ip_pre").desc, col("vec_id")), shortlist)
      .withColumn("ip", idot("qv", "q_qv"))
    topKPer(cand, Seq(col("q_id")), Seq(col("ip").desc, col("vec_id")), topK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("ip"))
  }

  /** Seed-derived ±1 random hyperplanes — the ONE shared definition:
    * the Spark signature expression and the DuckDB oracle mirror are
    * both generated from this array, so the two engines cannot drift. */
  private[graft] def hyperplanes(nBits: Int, dim: Int = 64,
                                 seed: Long = 42): Array[Array[Long]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(if (rng.nextBoolean()) 1L else -1L)
  }

  /** Random-hyperplane LSH signatures: bit j = sign(v · r_j), planes
    * derived from a fixed seed (deterministic). Returns (vec_id, bucket).
    * nBits=12 → 4096 buckets; tune so bucket size ≈ corpus/4096.
    * Native [[graft.functions.HyperplaneSig]] — the composable
    * aggregate(zip_with(...)) form pays nBits×dim lambda dispatches per
    * row outside whole-stage codegen (bit-identical output; pinned in
    * SimilaritySpec). */
  def lshBuckets(emb: DataFrame, nBits: Int = 12, dim: Int = 64, seed: Long = 42): DataFrame =
    quantized(emb).withColumn("bucket",
      graft.functions.HyperplaneSig.hyperplane_sig(col("qv"), hyperplanes(nBits, dim, seed)))

  /** Banded blocking rows for [[cosineDupPairs]]: each vector explodes
    * to one (blk, id, p) row per band, blk = band-index ⊕ that band's
    * bitsPerBand signature slice. Only ids ride the explode (payloads
    * join back after candidate dedup), so the replicated shuffle ships
    * nBands×16 bytes per vector, not the vector itself. */
  private[graft] def bandedBlocks(emb: DataFrame, nBands: Int, bitsPerBand: Int,
                                  seed: Long): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    quantized(emb)
      .withColumn("sig", graft.functions.HyperplaneSig.hyperplane_sig(
        col("qv"), hyperplanes(nBands * bitsPerBand, 64, seed)))
      .select(
        explode(expr(s"""transform(sequence(0, ${nBands - 1}),
          b -> (cast(b as bigint) << $bitsPerBand) | ((sig >> (b * $bitsPerBand)) & $mask))"""))
          .as("blk"),
        col("vec_id").as("id"), lit(false).as("p"))
  }

  /** LSH-bucketed approximate top-k: queries only compare against corpus
    * vectors in the same bucket (sub-linear candidate set). */
  def knnLsh(emb: DataFrame, k: Int = 5, queryMod: Int = DefaultQueryMod, nBits: Int = 8): DataFrame = {
    val base = lshBuckets(emb, nBits)
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("bucket"), col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val scored = base
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", idot("qv", "q_qv").cast("double") / (col("nrm") * col("q_nrm")))
    topKPer(scored, Seq(col("q_id")), Seq(col("cos").desc, col("vec_id")), k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  /** Per-label centroids (IVF coarse-quantizer building block): exact
    * decimal mean of each dimension. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(davg(col("v").cast("double")).as("centroid"))

  /** Per-label centroid vectors as arrays (the IVF coarse-quantizer
    * table): sort-by-dim inside a collected struct array keeps the
    * assembly deterministic. 25 labels ⇒ trivially broadcastable. */
  def centroidVectors(emb: DataFrame): DataFrame =
    labelCentroids(emb)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("dc"))
      .select(col("label").as("c_label"),
        expr("transform(dc, x -> x.centroid)").as("cv"))

  /** The IVF coarse-quantizer routing: per query, the nProbe nearest
    * centroid lists (cosine vs the exact-decimal centroid means, ties
    * to the smaller label). Exposed so the s09 pin can audit the fine
    * search against the SAME routing the kernel used. Returns
    * (q_id, q_qv, q_nrm, c_label). */
  private[graft] def ivfProbes(emb: DataFrame, queryMod: Int,
                               nProbe: Int): DataFrame = {
    val base = quantized(emb)
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val cents = centroidVectors(emb)
    // centroid score: cosine between double-cast query and centroid mean
    val cdot = expr(
      "aggregate(zip_with(q_qv, cv, (x, y) -> cast(x as double) * y), 0d, (acc, v) -> acc + v)")
    val cnrm = expr("sqrt(aggregate(transform(cv, x -> x * x), 0d, (acc, v) -> acc + v))")
    val scored = queries.join(broadcast(cents))
      .withColumn("c_cos", cdot / (col("q_nrm") * cnrm))
    topKPer(scored, Seq(col("q_id")), Seq(col("c_cos").desc, col("c_label")), nProbe)
      .select(col("q_id"), col("q_qv"), col("q_nrm"), col("c_label"))
  }

  /** IVF-style approximate top-k: rank centroids per query (coarse
    * quantizer), probe the nProbe nearest inverted lists (label blocks),
    * brute-force only inside probed lists. The corpus never shuffles:
    * probed lists meet the corpus on a broadcast equi-join on label.
    * At 100 TB the corpus would be bucketed/partitioned BY label so a
    * probe touches only matching partitions (partition pruning). */
  def knnIvf(emb: DataFrame, k: Int = 5, queryMod: Int = DefaultQueryMod,
             nProbe: Int = IvfNProbe): DataFrame = {
    val base = quantized(emb)
    val probed = ivfProbes(emb, queryMod, nProbe)
    val scored = base.join(broadcast(probed), col("label") === col("c_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", idot("qv", "q_qv").cast("double") / (col("nrm") * col("q_nrm")))
    topKPer(scored, Seq(col("q_id")), Seq(col("cos").desc, col("vec_id")), k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
  }

  /** Row type for the pruned-MIPS partition scan. */
  case class CVec(vec_id: Long, qv: Array[Long], xx: Long)

  /** EXACT maximum-inner-product top-k with Cauchy–Schwarz pruning —
    * the scale path when ranking is by raw dot product (recommendation
    * retrieval, un-normalized rerank): candidates are scanned in
    * descending self-dot order, and once a query's running k-th best
    * `kth` satisfies `qq·xx < kth²` (with `kth ≥ 0`) every remaining
    * candidate obeys `ip² ≤ qq·xx < kth²` (Cauchy–Schwarz, all int64
    * via BigInt) so the scan for that query stops — no dot product is
    * ever computed for it again. Pruning is *provably lossless*
    * (strict inequality ⇒ not even a tie is possible), so the result
    * is bit-identical to the brute force and shares its oracle shape.
    *
    * Scale: the corpus never shuffles — `sortWithinPartitions(xx desc)`
    * is a partition-local sort feeding a partition-local heap scan; the
    * query set rides a broadcast variable, and like ANY broadcast it
    * must be driver-sized: the collect below is capped at maxQueries
    * rows (fail fast, not OOM) — at 100 TB a larger query load splits
    * into driver-sized chunks of this same operator, or switches to the
    * shuffled [[knnBrute]]/[[knnIvf]] paths. */
  def knnMipsPruned(emb: DataFrame, k: Int = 5, queryMod: Int = DefaultQueryMod,
                    maxQueries: Int = 1 << 20): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = quantized(emb)
      .select(col("vec_id"), col("qv"), idot("qv", "qv").as("xx")).as[CVec]
    val qs = base.filter(_.vec_id % queryMod == 0)
      .limit(maxQueries + 1).collect().sortBy(_.vec_id)
    require(qs.length <= maxQueries,
      s"query set exceeds maxQueries=$maxQueries rows — it must fit the driver/broadcast; " +
        "chunk the query set or use the shuffled knn paths")
    val bc = spark.sparkContext.broadcast(qs)
    val partials = base
      .sortWithinPartitions(col("xx").desc)
      .mapPartitions { it =>
        val queries = bc.value
        val nq = queries.length
        // min-heap head = current worst kept (lowest ip, then largest id)
        val heaps = Array.fill(nq)(
          collection.mutable.PriorityQueue.empty[(Long, Long)](
            Ordering.by(t => (-t._1, t._2))))
        val active = Array.fill(nq)(true)
        var nActive = nq
        while (it.hasNext && nActive > 0) {
          val c = it.next()
          var j = 0
          while (j < nq) {
            if (active(j)) {
              val q = queries(j)
              if (heaps(j).size == k && heaps(j).head._1 >= 0 &&
                  BigInt(q.xx) * c.xx < BigInt(heaps(j).head._1) * heaps(j).head._1) {
                // xx is non-increasing from here on: done with query j
                active(j) = false; nActive -= 1
              } else if (c.vec_id != q.vec_id) {
                var ip = 0L; var i = 0; val n = math.min(c.qv.length, q.qv.length)
                while (i < n) { ip += c.qv(i) * q.qv(i); i += 1 }
                if (heaps(j).size < k) heaps(j).enqueue((ip, c.vec_id))
                else {
                  val (wip, wid) = heaps(j).head
                  if (ip > wip || (ip == wip && c.vec_id < wid)) {
                    heaps(j).dequeue(); heaps(j).enqueue((ip, c.vec_id))
                  }
                }
              }
            }
            j += 1
          }
        }
        queries.iterator.zipWithIndex.flatMap { case (q, j) =>
          heaps(j).iterator.map { case (ip, id) => (q.vec_id, id, ip) }
        }
      }
      .toDF("q_id", "neighbor_id", "ip")
    topKPer(partials, Seq(col("q_id")), Seq(col("ip").desc, col("neighbor_id")), k)
      .select(col("q_id"), col("neighbor_id"), col("rk"), col("ip"))
  }

  /** Embedding near-dup pairs: quantized cosine ≥ threshold over
    * BANDED-LSH candidates — a pair is a candidate iff it agrees on at
    * least one of nBands bitsPerBand-bit signature slices (the MinHash-
    * LSH banding layout applied to hyperplane signatures), then every
    * candidate is verified with the exact integer-quantized cosine.
    *
    * Scale design: the block key is a bounded signature cell, not a
    * fixed-cardinality column (the previous label blocking made each
    * cell n/25 of the corpus ⇒ O(n²) within-cell). Cell population is
    * data-dependent, so candidates go through [[Dedup.boundedPairJoin]]:
    * even a degenerate cell (every vector identical) costs cap-bounded
    * tasks, and oversized cells of genuinely-similar vectors are
    * output-bound (any correct algorithm emits |cell|² pairs there).
    * Recall is the standard banding curve 1-(1-p^r)^b; at 100 TB raise
    * bitsPerBand with log(n) (e.g. 16-20) to keep cells sparse — the
    * defaults here are tuned for the test corpus. Deterministic planes
    * ⇒ DuckDB mirrors candidate generation exactly (s04/p02 oracles). */
  def cosineDupPairs(emb: DataFrame, threshold: Double = 0.99,
                     nBands: Int = 5, bitsPerBand: Int = 6,
                     seed: Long = 42, cap: Int = 128): DataFrame = {
    val base = quantized(emb)
    val cand = Dedup.boundedPairJoin(bandedBlocks(emb, nBands, bitsPerBand, seed), cap)
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(base.select(col("vec_id").as("a_id"), col("qv").as("a_qv"), col("nrm").as("a_nrm")), Seq("a_id"))
      .join(base.select(col("vec_id").as("b_id"), col("qv").as("b_qv"), col("nrm").as("b_nrm")), Seq("b_id"))
      .withColumn("cos", idot("a_qv", "b_qv").cast("double") / (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** DuckDB CTE chain mirroring [[cosineDupPairs]]'s banded candidate
    * generation — generated from the SAME [[hyperplanes]] array as the
    * Spark expression. Ends with `scored(a_id, b_id, cos)`; callers
    * append their threshold filter. Shared by s04 and p02 (Curation). */
  /** The CASE-sum mirror of [[graft.functions.HyperplaneSig]] over a
    * DuckDB `qv` column — generated from the SAME [[hyperplanes]]
    * array as the Spark expression, so the two engines' signatures
    * cannot drift. Shared by the s04/p02 banded CTEs and the s02
    * bucket-join oracle. */
  private def hyperplaneSigSql(nBits: Int, seed: Long): String =
    hyperplanes(nBits, 64, seed).zipWithIndex.map { case (p, j) =>
      val pl = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * ($pl)[i])) >= 0" +
        s" THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)"
    }.mkString("\n             + ")

  private[operators] def bandedScoredCtes(nBands: Int = 5, bitsPerBand: Int = 6,
                                          seed: Long = 42): String = {
    val nBits = nBands * bitsPerBand
    val qv = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    val sigTerms = hyperplaneSigSql(nBits, seed)
    val mask = (1L << bitsPerBand) - 1
    // one hash equi-join per band (UNION dedups candidates) — the OR-of-
    // band-equalities form forces DuckDB into an O(n²) nested loop, and
    // an unhinted CTE re-evaluates under the recursive consumers (p02),
    // hence the per-band joins + MATERIALIZED pins
    val bandJoins = (0 until nBands).map { b =>
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
             FROM sig a JOIN sig b
             ON ((a.sig >> ${b * bitsPerBand}) & $mask) = ((b.sig >> ${b * bitsPerBand}) & $mask)
               AND a.vec_id < b.vec_id"""
    }.mkString("\n           UNION\n           ")
    s"""nq AS (
           SELECT vec_id, label, $qv AS qv FROM embeddings),
         nn AS (
           SELECT vec_id, label, qv,
             sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
           FROM nq),
         sig AS MATERIALIZED (
           SELECT vec_id, label, qv, nrm,
             $sigTerms AS sig
           FROM nn),
         cand AS (
           $bandJoins),
         scored AS MATERIALIZED (
           SELECT c.a_id, c.b_id,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS DOUBLE) / (a.nrm * b.nrm) AS cos
           FROM cand c
           JOIN sig a ON a.vec_id = c.a_id
           JOIN sig b ON b.vec_id = c.b_id)"""
  }

  /** Centroid table via the typed [[graft.functions.VectorMeanAgg]]
    * Aggregator — one-pass, no posexplode row blow-up (the 100 TB
    * variant of [[labelCentroids]]; float-sum order noise is below the
    * 6-decimal rounding of the query output). */
  def centroidMeansAgg(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("label").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.VectorMeanAgg(64).toColumn.name("cv"))
      .toDF("label", "cv")
  }

  /** Overall recall of an approximate top-k result against the exact
    * one, as parts-per-10000 integer (no float division): hits = the
    * approximate pairs present in the exact set. One semi join + two
    * scalar counts — the counts ride 1-row broadcasts. A MEASUREMENT
    * (tuning nProbe/nBits per dataset), not a catalog pin: at catalog
    * query counts the statistic cannot reliably separate a working
    * quantizer from chance (see s09's scaladoc); SimilaritySpec keeps
    * it exercised. */
  private[graft] def recallVsExact(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select(col("q_id"), col("neighbor_id"))
      .join(exact.select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val truth = exact.agg(count(lit(1)).as("n_true"))
    hits.crossJoin(broadcast(truth))
      .withColumn("recall_x1e4", expr("n_hits * 10000 div n_true"))
      .select(col("n_hits"), col("n_true"), col("recall_x1e4"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SCORE-INTEGRITY PIN for s02: every pair the LSH path returns must
    // exist in the exhaustively scored pair set with the IDENTICAL
    // cosine (both sides are the same integer dot / norm arithmetic, so
    // equality is exact). Catches bucketing corrupting candidates,
    // duplicate rows, or a drifted scoring path. Recall itself is the
    // documented trade of the method and is data-dependent (on this
    // near-uniform synthetic corpus random-hyperplane recall@5 is ~0 —
    // the bucket prunes ~255/256 of candidates), so the pin checks what
    // the operator PROMISES: what it returns is correctly scored.
    // Oracle = the empty set (d11 pattern).
    "s08_lsh_score_pin" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val truth = scoredAllPairs(emb, DefaultQueryMod)
        .select(col("q_id"), col("neighbor_id"), col("cos").as("true_cos"))
      knnLsh(emb)
        .join(truth, Seq("q_id", "neighbor_id"), "left_outer")
        .filter(col("true_cos").isNull || col("true_cos") =!= col("cos"))
        .select(col("q_id"), col("neighbor_id"), col("cos"), col("true_cos"))
        .orderBy(col("q_id"), col("neighbor_id"))
    }),
    // EXACTNESS PIN for s05 (r7 — replaces the statistical recall
    // floor, which was underpowered at catalog query counts: recall
    // vs chance = nProbe/n_lists cannot be distinguished reliably
    // from ~100 true pairs, and measured recall is a DATASET metric —
    // 40% at sf0.01, 24% at sf0.1 vs 20% chance, recorded in SURVEY
    // §8.3 — not a correctness invariant). What IS invariant, and is
    // pinned deterministically here:
    //  (1) score integrity — every returned (query, neighbor) carries
    //      exactly the exhaustive-scored cosine (the s08 check);
    //  (2) within-probe completeness — no candidate in the probed
    //      lists beats the returned k-th under the kernel's
    //      (cos desc, vec_id) order without having been returned.
    // A broken fine search, wrong restriction, or corrupted scoring
    // all emit violations; oracle = ∅.
    "s09_ivf_exactness_pin" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val ivf = knnIvf(emb)
      val truth = scoredAllPairs(emb, DefaultQueryMod)
        .select(col("q_id"), col("neighbor_id"), col("cos").as("true_cos"))
      val wrongScore = ivf
        .join(truth, Seq("q_id", "neighbor_id"), "left_outer")
        .filter(col("true_cos").isNull || col("true_cos") =!= col("cos"))
        .select(col("q_id"), col("neighbor_id"))
      val labels = quantized(emb).select(col("vec_id").as("neighbor_id"),
        col("label").as("c_label"))
      val probedCand = truth.join(labels, Seq("neighbor_id"))
        .join(ivfProbes(emb, DefaultQueryMod, IvfNProbe).select(col("q_id"), col("c_label")),
          Seq("q_id", "c_label"))
      val kth = ivf.groupBy(col("q_id"))
        .agg(max(struct(col("rk"), col("cos"), col("neighbor_id"))).as("kth"))
        .select(col("q_id"), col("kth.cos").as("k_cos"),
          col("kth.neighbor_id").as("k_id"))
      val missed = probedCand
        .join(kth, Seq("q_id"))
        .filter(col("true_cos") > col("k_cos") ||
          (col("true_cos") === col("k_cos") && col("neighbor_id") < col("k_id")))
        .join(ivf.select(col("q_id"), col("neighbor_id")),
          Seq("q_id", "neighbor_id"), "left_anti")
        .select(col("q_id"), col("neighbor_id"))
      wrongScore.union(missed).orderBy(col("q_id"), col("neighbor_id"))
    }),
    "s01_knn_brute" -> ((s, d) =>
      knnBruteForce(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    "s19_hard_negatives" -> ((s, d) =>
      hardNegatives(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    "s20_ivf_recall" -> ((s, d) =>
      ivfRecall(t(s, d, "embeddings")).orderBy(col("q_id"))),
    "s10_quantize_uint8" -> ((s, d) =>
      quantizeUint8(t(s, d, "embeddings")).orderBy(col("vec_id"))),
    "s11_kmeans_2iter" -> ((s, d) =>
      kmeansAssign(t(s, d, "embeddings")).orderBy(col("vec_id"))),
    // PQ encode: every vector's m codeword ids + exact per-subspace
    // reconstruction error, through the full deterministic training
    // recurrence (seeds → Lloyd step → encode) — one oracle replays it
    "s12_pq_codes" -> ((s, d) =>
      pqCodes(t(s, d, "embeddings"))
        .select(col("vec_id"), col("s").cast("long").as("s"),
          col("code"), col("d2"))
        .orderBy(col("vec_id"), col("s"))),
    // PQ ADC top-k: compressed-domain nearest neighbors; the per-query
    // m·k distance table replaces full-dim arithmetic per candidate.
    // Serves from the persisted IVF-PQ index (whose codebooks/codes ARE
    // the full-corpus PQ index — buildIvfPqIndex trains them on all
    // vectors), built at most once per (process, sf) and shared with
    // s14/s16: the first caller pays training (still fully oracle-gated
    // — the oracle replays the training recurrence), every repeat
    // prices the steady-state ADC serve
    "s13_pq_adc_topk" -> ((s, d) =>
      pqAdcTopKFromIndex(s,
          cachedIndex("ivfpq", d)(buildIvfPqIndex(t(s, d, "embeddings"), _)))
        .orderBy(col("q_id"), col("rk"))),
    // IVF-PQ composed: trained integer coarse routing + compressed-
    // domain ADC — the full 100 TB ANN layout under ONE value oracle.
    // Same persisted-index serving as s13/s16 (shared "ivfpq" build);
    // in-query training survives as s12 (the recurrence pin) and the
    // build itself, which the same oracle chain replays end to end
    "s14_ivfpq_topk" -> ((s, d) =>
      ivfPqTopKFromIndex(s,
          cachedIndex("ivfpq", d)(buildIvfPqIndex(t(s, d, "embeddings"), _)))
        .orderBy(col("q_id"), col("rk"))),
    // two-stage serve: s14 shortlist (compressed domain) → exact-cosine
    // re-rank of only those candidates — near-exact answers at index
    // cost; the oracle replays both stages. Serves from the persisted
    // IVF-PQ index, built at most once per (process, sf) — so the first
    // call pays training (what the s14 oracle pins) and every repeat
    // prices the steady-state serve the 100 TB story amortizes to
    "s16_retrieve_rerank" -> ((s, d) =>
      retrieveRerankFromIndex(s,
          cachedIndex("ivfpq", d)(buildIvfPqIndex(t(s, d, "embeddings"), _)))
        .orderBy(col("q_id"), col("rk"))),
    // frozen-codebook index upsert: delta vectors encode against the
    // base-trained PERSISTED codebooks (base codes persisted too —
    // built at most once per process), serving covers base+delta — the
    // steady-state no-retrain ingestion loop, full value oracle
    "s17_index_upsert" -> ((s, d) =>
      pqIndexUpsertFromBase(t(s, d, "embeddings"),
          cachedIndex("pqbase", d)(dir =>
            buildPqIndex(t(s, d, "embeddings")
              .filter(col("vec_id") % 10 =!= 0), dir)))
        .orderBy(col("q_id"), col("rk"))),
    // Matryoshka prefix-dim retrieve + full-dim refine: training-free
    // two-stage MIPS, integer-exact both stages
    "s18_prefix_refine" -> ((s, d) =>
      prefixRefineTopK(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    // index persistence: serve ADC from the parquet-SAVED index — same
    // oracle as s13, so persistence is pinned invisible to results.
    // Eager write at build time + per-(pid, sf) overwritten path is the
    // q53/q69 interchange convention: bounded on disk (one dir per
    // process per scale factor, rewritten in place), never accumulating
    "s15_pq_index_roundtrip" -> ((s, d) =>
      pqIndexRoundtrip(t(s, d, "embeddings"), graft.TempDirs.pidScoped("pq_index", d))
        .orderBy(col("q_id"), col("rk"))),
    "s02_knn_lsh" -> ((s, d) =>
      knnLsh(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    "s07_knn_mips_pruned" -> ((s, d) =>
      knnMipsPruned(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    "s05_knn_ivf" -> ((s, d) =>
      knnIvf(t(s, d, "embeddings")).orderBy(col("q_id"), col("rk"))),
    // oracle-checked: the UDAF accumulates in DOUBLE, so its means
    // differ from DuckDB's double sums only by summation order
    // (~1e-13 relative) — far inside the 6-decimal rounding
    "s06_centroid_agg" -> ((s, d) =>
      centroidMeansAgg(t(s, d, "embeddings"))
        .select(col("label"),
          round(expr("aggregate(cv, 0d, (a, x) -> a + x * x)"), 6).as("sq_norm"),
          round(element_at(col("cv"), 1), 6).as("c0"))
        .orderBy(col("label"))),
    "s03_label_centroids" -> ((s, d) =>
      labelCentroids(t(s, d, "embeddings")).orderBy(col("label"), col("dim"))),
    "s04_cosine_dup_pairs" -> ((s, d) =>
      // 0.30: synthetic embeddings have no true near-dups (max intra-label
      // cos ≈ 0.47); this returns the top-similar tail instead of ∅.
      cosineDupPairs(t(s, d, "embeddings"), 0.30).orderBy(col("a_id"), col("b_id")))
  )

  /** Build-once/serve-many cache for a persisted index: a per-
    * (kind, pid, sf) tmp directory, built by `build` on first use and
    * reused for the rest of the process — so Verify's single pass pays
    * the build (cold, fully oracle-gated) while Bench's warm runs and
    * any later entry sharing the layout price the steady-state serve.
    * The `_BUILT` marker commits the build: a partial build (crash
    * before marker) re-runs with overwrite semantics. Path convention
    * mirrors s15 (bounded on disk: one dir per process per sf,
    * rewritten in place, never accumulating).
    *
    * Concurrency: the check-then-build races if two threads share a
    * (kind, sf) — both would run `build` with overwrite semantics and
    * one could serve a partially-overwritten index — so the build is
    * serialized through a per-directory lock (losers wait, then see the
    * marker and skip). Cross-PROCESS callers never collide: the pid in
    * the path gives each process its own directory. */
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def cachedIndex(kind: String, sfDir: String)
                                (build: String => Unit): String = {
    val dir = graft.TempDirs.pidScoped(kind, sfDir)
    val marker = java.nio.file.Paths.get(dir, "_BUILT")
    indexLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      if (!java.nio.file.Files.exists(marker)) {
        build(dir)
        java.nio.file.Files.createFile(marker)
      }
    }
    dir
  }

  /** The PQ training recurrence replayed in DuckDB — subspace split,
    * deterministic seeds, one Lloyd step (argmin with (d2, cid) ties,
    * floor-mean update), final encode. Shared by the s12/s13/s17
    * oracles so they replay ONE definition; ends at the `code` CTE
    * (vec_id, s, code, d2). Mirrors [[pqCodebooks]]/[[pqCodes]] at the
    * catalog defaults m=8, subDim=8, k=4. `trainPred` (over `vec_id`)
    * restricts the TRAINING population — seeds and Lloyd statistics —
    * while the encode still covers every vector: exactly the frozen-
    * codebook upsert contract (s17); the default TRUE trains on all. */
  private def pqTrainSql(qv: String, trainPred: String = "TRUE"): String =
    s"""WITH q AS (
         SELECT vec_id, $qv AS qv FROM embeddings),
       ss AS (SELECT unnest(range(0, 8)) AS s),
       sub AS (
         SELECT vec_id, s, qv[(s * 8 + 1):(s * 8 + 8)] AS sub
         FROM q CROSS JOIN ss),
       subt AS (SELECT * FROM sub WHERE $trainPred),
       seeds AS (
         SELECT s, vec_id AS cid, sub AS cv FROM subt
         WHERE vec_id IN (SELECT vec_id FROM q WHERE $trainPred
                          ORDER BY vec_id LIMIT 4)),
       d1 AS (
         SELECT subt.vec_id, subt.s, subt.sub, seeds.cid,
           CAST(list_sum(list_transform(range(1, 9),
             i -> (subt.sub[i] - seeds.cv[i]) * (subt.sub[i] - seeds.cv[i]))) AS BIGINT) AS d2
         FROM subt JOIN seeds ON subt.s = seeds.s),
       a1 AS (
         SELECT vec_id, s, sub, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
           FROM d1) WHERE rk = 1),
       mm AS (
         SELECT s, cid, i AS dim,
           CAST(floor(sum(sub[i]) / count(*)) AS BIGINT) AS mv
         FROM a1, (SELECT unnest(range(1, 9)) AS i)
         GROUP BY s, cid, i),
       c1 AS (SELECT s, cid, list(mv ORDER BY dim) AS cv FROM mm GROUP BY s, cid),
       enc AS (
         SELECT sub.vec_id, sub.s, c1.cid,
           CAST(list_sum(list_transform(range(1, 9),
             i -> (sub.sub[i] - c1.cv[i]) * (sub.sub[i] - c1.cv[i]))) AS BIGINT) AS d2
         FROM sub JOIN c1 ON sub.s = c1.s),
       code AS (
         SELECT vec_id, s, cid AS code, d2 FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
           FROM enc) WHERE rk = 1)"""

  /** The ADC serve chain (query subvectors → per-query distance table →
    * ADC sum → rank, top-5 at queryMod 400) appended after a train/code
    * chain — shared verbatim by the s13, s15 and s17 oracles. */
  private val AdcServeTailSql = """,
       qs AS (SELECT vec_id AS q_id, s, sub AS qsub
              FROM sub WHERE vec_id % 400 = 0),
       dtab AS (
         SELECT qs.q_id, c1.s, c1.cid AS code,
           CAST(list_sum(list_transform(range(1, 9),
             i -> (qs.qsub[i] - c1.cv[i]) * (qs.qsub[i] - c1.cv[i]))) AS BIGINT) AS dq
         FROM qs JOIN c1 ON qs.s = c1.s),
       adc AS (
         SELECT d.q_id, c.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
         FROM code c
         JOIN dtab d ON c.s = d.s AND c.code = d.code AND c.vec_id != d.q_id
         GROUP BY d.q_id, c.vec_id),
       ranked AS (
         SELECT q_id, vec_id AS neighbor_id, adc,
           row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rk
         FROM adc)
       SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, adc
       FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  /** The IVF-PQ pipeline CTEs (coarse training kc* — the s11 recurrence
    * — routing, ADC against the pqTrainSql codes), ending at `ranked`
    * (q_id, neighbor_id, adc, rk). Appended to [[pqTrainSql]]; shared by
    * the s14 oracle (rk ≤ 5 head) and the s16 oracle (rk ≤ 25 shortlist
    * + exact-cosine re-rank) so both replay ONE chain definition. */
  private val ivfPqChainSql: String = """,
       kc0 AS (
         SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 4),
       kd1 AS (
         SELECT q.vec_id, q.qv, kc0.cid,
           CAST(list_sum(list_transform(range(1, 65),
             i -> (q.qv[i] - kc0.cv[i]) * (q.qv[i] - kc0.cv[i]))) AS BIGINT) AS d2
         FROM q CROSS JOIN kc0),
       ka1 AS (
         SELECT vec_id, qv, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
           FROM kd1) WHERE rk = 1),
       km AS (
         SELECT cid, i AS dim,
           CAST(floor(sum(qv[i]) / count(*)) AS BIGINT) AS mv
         FROM ka1, (SELECT unnest(range(1, 65)) AS i)
         GROUP BY cid, i),
       kc1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM km GROUP BY cid),
       kdd AS (
         SELECT q.vec_id, kc1.cid,
           CAST(list_sum(list_transform(range(1, 65),
             i -> (q.qv[i] - kc1.cv[i]) * (q.qv[i] - kc1.cv[i]))) AS BIGINT) AS d2
         FROM q CROSS JOIN kc1),
       kassign AS (
         SELECT vec_id, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
           FROM kdd) WHERE rk = 1),
       kroute AS (
         SELECT vec_id AS q_id, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
           FROM kdd WHERE vec_id % 400 = 0) WHERE rk <= 2),
       qs AS (SELECT vec_id AS q_id, s, sub AS qsub
              FROM sub WHERE vec_id % 400 = 0),
       dtab AS (
         SELECT qs.q_id, c1.s, c1.cid AS code,
           CAST(list_sum(list_transform(range(1, 9),
             i -> (qs.qsub[i] - c1.cv[i]) * (qs.qsub[i] - c1.cv[i]))) AS BIGINT) AS dq
         FROM qs JOIN c1 ON qs.s = c1.s),
       cand AS (
         SELECT r.q_id, a.vec_id
         FROM kassign a JOIN kroute r ON a.cid = r.cid AND a.vec_id != r.q_id),
       adc AS (
         SELECT cand.q_id, cand.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
         FROM cand
         JOIN code c ON c.vec_id = cand.vec_id
         JOIN dtab d ON d.q_id = cand.q_id AND d.s = c.s AND d.code = c.code
         GROUP BY cand.q_id, cand.vec_id),
       ranked AS (
         SELECT q_id, vec_id AS neighbor_id, adc,
           row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rk
         FROM adc)"""

  def oracleSql: Map[String, String] = {
    val qv = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    val base = Map(
      "s08_lsh_score_pin" ->
        """SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS neighbor_id,
           CAST(NULL AS DOUBLE) AS cos, CAST(NULL AS DOUBLE) AS true_cos
           WHERE 1 = 0""",
      "s09_ivf_exactness_pin" ->
        """SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS neighbor_id
           WHERE 1 = 0""",
      "s10_quantize_uint8" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           b AS (
             SELECT vec_id, qv, list_min(qv) AS mn, list_max(qv) AS mx FROM q)
           SELECT vec_id, mn, mx,
             CAST(CASE WHEN mx > mn THEN list_sum(list_transform(qv,
               x -> ((x - mn) * 255) // (mx - mn))) ELSE 0 END AS BIGINT) AS q_sum,
             CAST(CASE WHEN mx > mn THEN ((qv[1] - mn) * 255) // (mx - mn)
               ELSE 0 END AS BIGINT) AS q_first,
             CAST(CASE WHEN mx > mn THEN ((qv[-1] - mn) * 255) // (mx - mn)
               ELSE 0 END AS BIGINT) AS q_last
           FROM b ORDER BY vec_id""",
      // the unrolled 2-iteration Lloyd recurrence, replayed step by step:
      // same seeds, same integer argmin + (d2, cid) tie order, same
      // floor(mean) update — floor of an exact double in both engines
      "s12_pq_codes" ->
        (pqTrainSql(qv) + """
           SELECT vec_id, s, code, d2 FROM code ORDER BY vec_id, s"""),
      // s15 serves the identical query from the persisted index, so it
      // shares this oracle text verbatim (see map tail)
      "s13_pq_adc_topk" -> (pqTrainSql(qv) + AdcServeTailSql),
      // frozen-codebook upsert: training restricted to the base
      // population (vec_id % 10 ≠ 0), encode + serve over EVERYTHING —
      // the oracle replays exactly the no-retrain ingestion contract
      "s17_index_upsert" ->
        (pqTrainSql(qv, "vec_id % 10 != 0") + AdcServeTailSql),
      // the coarse chain (kc*: the s11 recurrence) + routing + the PQ
      // chain (via pqTrainSql) composed — one oracle replays the whole
      // IVF-PQ pipeline end to end
      "s14_ivfpq_topk" ->
        (pqTrainSql(qv) + ivfPqChainSql + """
           SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, adc
           FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""),
      // stage-1 shortlist = the s14 chain at rk ≤ 25; stage 2 re-scores
      // those candidates with the exact integer cosine (the s01
      // arithmetic) — the oracle replays the full two-stage serve
      "s16_retrieve_rerank" ->
        (pqTrainSql(qv) + ivfPqChainSql + """,
           short AS (
             SELECT q_id, neighbor_id FROM ranked WHERE rk <= 25),
           nn AS (
             SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
             FROM q),
           rr AS (
             SELECT s.q_id, s.neighbor_id,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> c.qv[i] * qq.qv[i])) AS DOUBLE) / (c.nrm * qq.nrm) AS cos
             FROM short s
             JOIN nn c ON c.vec_id = s.neighbor_id
             JOIN nn qq ON qq.vec_id = s.q_id),
           rranked AS (
             SELECT q_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             FROM rr)
           SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cos
           FROM rranked WHERE rk <= 5 ORDER BY q_id, rk"""),
      "s11_kmeans_2iter" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           c0 AS (
             SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 4),
           d1 AS (
             SELECT q.vec_id, q.qv, c0.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c0.cv[i]) * (q.qv[i] - c0.cv[i]))) AS BIGINT) AS d2
             FROM q CROSS JOIN c0),
           a1 AS (
             SELECT vec_id, qv, cid FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
               FROM d1) WHERE rk = 1),
           m AS (
             SELECT cid, i AS dim,
               CAST(floor(sum(qv[i]) / count(*)) AS BIGINT) AS mv
             FROM a1, (SELECT unnest(range(1, 65)) AS i)
             GROUP BY cid, i),
           c1 AS (
             SELECT cid, list(mv ORDER BY dim) AS cv FROM m GROUP BY cid),
           dd AS (
             SELECT q.vec_id, c1.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c1.cv[i]) * (q.qv[i] - c1.cv[i]))) AS BIGINT) AS d2
             FROM q CROSS JOIN c1)
           SELECT vec_id, cid AS cluster_id, d2 AS dist2 FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
             FROM dd) WHERE rk = 1
           ORDER BY vec_id""",
      "s01_knn_brute" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           n AS (
             SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
             FROM q),
           scored AS (
             SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> c.qv[i] * qq.qv[i])) AS DOUBLE) / (c.nrm * qq.nrm) AS cos
             FROM n c JOIN n qq ON qq.vec_id % 100 = 0 AND c.vec_id != qq.vec_id),
           ranked AS (
             SELECT q_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             FROM scored)
           SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
           ORDER BY q_id, rk""",
      // s01's scored-pairs arithmetic with the label-disequality join
      // predicate — the hard-negative mining twin ranks only cross-label
      // candidates, so the oracle replays the same quantized cosine with
      // `c.label != qq.label` in place of the self-exclusion (label
      // disequality subsumes it: a vector never differs from itself)
      "s19_hard_negatives" ->
        s"""WITH q AS (
             SELECT vec_id, label, $qv AS qv FROM embeddings),
           n AS (
             SELECT vec_id, label, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
             FROM q),
           scored AS (
             SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
               c.label AS neg_label,
               CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> c.qv[i] * qq.qv[i])) AS DOUBLE) / (c.nrm * qq.nrm) AS cos
             FROM n c JOIN n qq ON qq.vec_id % 100 = 0 AND c.label != qq.label),
           ranked AS (
             SELECT q_id, neighbor_id, neg_label, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             FROM scored)
           SELECT q_id, neighbor_id, neg_label, CAST(rk AS BIGINT) AS rk, cos
           FROM ranked WHERE rk <= 5
           ORDER BY q_id, rk""",
      // both stages replayed: prefix-16 integer MIPS shortlist, then the
      // full-64 re-rank of exactly those survivors
      "s18_prefix_refine" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           scored1 AS (
             SELECT qq.vec_id AS q_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, 17),
                 i -> c.qv[i] * qq.qv[i])) AS BIGINT) AS ip_pre,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> c.qv[i] * qq.qv[i])) AS BIGINT) AS ip
             FROM q c JOIN q qq ON qq.vec_id % 100 = 0 AND c.vec_id != qq.vec_id),
           r1 AS (
             SELECT *, row_number() OVER (
               PARTITION BY q_id ORDER BY ip_pre DESC, vec_id) AS rk1
             FROM scored1),
           short AS (SELECT q_id, vec_id, ip FROM r1 WHERE rk1 <= 50),
           r2 AS (
             SELECT q_id, vec_id, ip, row_number() OVER (
               PARTITION BY q_id ORDER BY ip DESC, vec_id) AS rk
             FROM short)
           SELECT q_id, vec_id AS neighbor_id, CAST(rk AS BIGINT) AS rk, ip
           FROM r2 WHERE rk <= 5 ORDER BY q_id, rk""",
      // EXACT pruned MIPS ≡ brute-force MIPS, so the oracle is the plain
      // dot-product ranking — integer ip, no floats at all
      "s07_knn_mips_pruned" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           scored AS (
             SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> c.qv[i] * qq.qv[i])) AS BIGINT) AS ip
             FROM q c JOIN q qq ON qq.vec_id % 100 = 0 AND c.vec_id != qq.vec_id),
           ranked AS (
             SELECT q_id, neighbor_id, ip,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, neighbor_id) AS BIGINT) AS rk
             FROM scored)
           SELECT q_id, neighbor_id, rk, ip FROM ranked WHERE rk <= 5
           ORDER BY q_id, rk""",
      "s03_label_centroids" ->
        """SELECT label, CAST(i - 1 AS BIGINT) AS dim,
           CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS centroid
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           GROUP BY label, dim ORDER BY label, dim""",
      "s06_centroid_agg" ->
        """WITH e AS (
             SELECT CAST(label AS BIGINT) AS label,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS v
             FROM embeddings),
           m AS (
             SELECT label, dim, sum(CAST(v AS DOUBLE)) / count(*) AS mv
             FROM e GROUP BY label, dim)
           SELECT label,
             round(sum(mv * mv), 6) AS sq_norm,
             round(max(CASE WHEN dim = 1 THEN mv END), 6) AS c0
           FROM m GROUP BY label ORDER BY label""",
      "s04_cosine_dup_pairs" ->
        s"""WITH ${bandedScoredCtes()}
           SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.30
           ORDER BY a_id, b_id""",
      // s02 FULL oracle (r12 — was rows-only): DuckDB replays the
      // complete LSH-bucketed top-k — the 8-bit hyperplane signature
      // from the SAME plane array as the Spark expression, the bucket
      // equi-join (queries = vec_id ≡ 0 mod 100), the exact quantized
      // cosine, and the (cos DESC, neighbor_id) top-5 window. The
      // bucket JOIN itself now carries a value oracle; s08's
      // score-integrity pin stays as the O(output) soundness check.
      "s02_knn_lsh" ->
        s"""WITH q AS (
             SELECT vec_id, $qv AS qv FROM embeddings),
           n AS (
             SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
             FROM q),
           sig AS MATERIALIZED (
             SELECT vec_id, qv, nrm,
               ${hyperplaneSigSql(8, 42)} AS bucket
             FROM n),
           scored AS (
             SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> c.qv[i] * qq.qv[i])) AS DOUBLE) / (c.nrm * qq.nrm) AS cos
             FROM sig c JOIN sig qq
               ON c.bucket = qq.bucket AND qq.vec_id % 100 = 0
                 AND c.vec_id != qq.vec_id),
           ranked AS (
             SELECT q_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             FROM scored)
           SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
           ORDER BY q_id, rk""",
      // s05 FULL oracle (r12 — was rows-only): DuckDB replays BOTH IVF
      // stages — the coarse quantizer (exact-decimal centroid means,
      // the s03 arithmetic; query-centroid cosine as the SAME
      // sequential left fold Spark's aggregate() runs, via
      // list_reduce — a 0d-seeded fold equals an unseeded one because
      // 0.0 + x ≡ x; top-nProbe with the c_label tie-break) and the
      // fine search inside probed lists (the s01/s02 arithmetic).
      // The probe ROUTING and the bucket join now carry a value
      // oracle; s09's exactness pin stays as the O(output) check.
      "s05_knn_ivf" ->
        s"""WITH q AS (
             SELECT vec_id, label, $qv AS qv FROM embeddings),
           n AS (
             SELECT vec_id, label, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
             FROM q),
           cent AS (
             SELECT label, CAST(i - 1 AS BIGINT) AS dim,
               CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*) AS mv
             FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
             GROUP BY label, dim),
           cvs AS MATERIALIZED (
             SELECT label AS c_label, list(mv ORDER BY dim) AS cv
             FROM cent GROUP BY label),
           probes AS (
             SELECT qq.vec_id AS q_id, c.c_label,
               row_number() OVER (PARTITION BY qq.vec_id ORDER BY
                 (list_reduce(list_transform(range(1, 65),
                    i -> CAST(qq.qv[i] AS DOUBLE) * c.cv[i]), (a, b) -> a + b)
                  / (qq.nrm * sqrt(list_reduce(
                      list_transform(c.cv, x -> x * x), (a, b) -> a + b))))
                 DESC, c.c_label) AS c_rk
             FROM n qq CROSS JOIN cvs c
             WHERE qq.vec_id % 100 = 0),
           scored AS (
             SELECT p.q_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                 i -> c.qv[i] * qq.qv[i])) AS DOUBLE) / (c.nrm * qq.nrm) AS cos
             FROM probes p
             JOIN n qq ON qq.vec_id = p.q_id
             JOIN n c ON c.label = p.c_label AND c.vec_id != p.q_id
             WHERE p.c_rk <= 2),
           ranked AS (
             SELECT q_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             FROM scored)
           SELECT q_id, neighbor_id, rk, cos FROM ranked WHERE rk <= 5
           ORDER BY q_id, rk"""
    )
    // persistence must be invisible to results: the saved-index serve
    // path answers to the SAME oracle as the freshly-trained s13
    base + ("s15_pq_index_roundtrip" -> base("s13_pq_adc_topk")) +
      // recall-as-data: both the exact and the approximate pipeline
      // replay as derived tables (DuckDB allows WITH inside a
      // subquery), then intersect — count() over the left-joined hit
      // column skips non-matches in both engines
      ("s20_ivf_recall" ->
        s"""WITH brute AS (
              SELECT q_id, neighbor_id FROM (${base("s01_knn_brute")})),
            ivf AS (
              SELECT q_id, neighbor_id FROM (${base("s05_knn_ivf")})),
            hits AS (
              SELECT b.q_id, CAST(count(i.neighbor_id) AS BIGINT) AS n_matched
              FROM brute b
              LEFT JOIN ivf i
                ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
              GROUP BY b.q_id)
            SELECT q_id, n_matched,
              CAST((n_matched * 10000) // 5 AS BIGINT) AS recall_x1e4
            FROM hits ORDER BY q_id""")
  }
}
