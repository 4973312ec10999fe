package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extension surface, BASELINE.json): token statistics, script-based
  * language ID, quality scoring, fingerprinting, n-gram mining.
  *
  * All computations are single narrow stages over `documents` (scale
  * linearly; the only shuffles are the final aggregations, which run on
  * map-side-combined partials). Ratios are exact double divisions of
  * integer counts — bit-identical in any IEEE-754 engine, so every
  * operator except the hash fingerprint carries a DuckDB oracle.
  */
object TextAnalysis {

  private val ws: Column = split(col("text"), " ")

  /** Whitespace tokenizer + per-document token statistics. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("len_chars"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / size(ws)).as("mean_token_len"))

  /** Unicode-script language heuristic (extends the reference's
    * Han-detection `OMTZHModifier.java:247-250` to a multi-script ID). */
  def scriptLangId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      when(col("text").rlike("\\p{IsHan}"), "zh")
        .when(col("text").rlike("[\\p{IsHiragana}\\p{IsKatakana}]"), "ja")
        .when(col("text").rlike("\\p{IsHangul}"), "ko")
        .when(col("text").rlike("\\p{IsCyrillic}"), "ru")
        .otherwise("latin").as("script_lang"))

  /** Quality scoring: lexical-diversity × (1 − stopword-ratio); the
    * standard cheap pre-filter shape for pretraining corpora. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTok = size(ws).cast("long")
    val nUniq = size(array_distinct(ws)).cast("long")
    val nStop = size(filter(ws, w => w.isin("the", "a"))).cast("long")
    docs.select(
      col("doc_id"), nTok.as("n_tokens"),
      (nUniq.cast("double") / nTok).as("uniq_ratio"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      ((nUniq.cast("double") / nTok) * (lit(1.0) - nStop.cast("double") / nTok)).as("quality"))
  }

  /** 64-bit document fingerprint (xxhash64 — codegen'd built-in), plus a
    * word-3-shingle min-hash (cheap near-dup prefilter signal). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("_ws", ws)
      .select(
        col("doc_id"),
        xxhash64(col("text")).as("fp64"),
        expr("""aggregate(
            transform(sequence(1, greatest(size(_ws) - 2, 1)),
              i -> xxhash64(concat_ws(' ', element_at(_ws, i),
                element_at(_ws, least(i + 1, size(_ws))),
                element_at(_ws, least(i + 2, size(_ws)))))),
            9223372036854775807L, (acc, h) -> least(acc, h))""").as("min_shingle_hash"))

  /** The ENGINE-REPLAYABLE fingerprint twin of [[fingerprint]] (t21):
    * md5 over the exact text bytes for the document fingerprint, and
    * the same word-3-shingle construction with the MIN taken over md5
    * hex digests (lexicographic on the hex alphabet — pure-ASCII, so
    * Spark's binary string min and DuckDB's agree byte for byte).
    * xxhash64 (t04) stays the production path — 8-byte, codegen'd,
    * cheaper to shuffle as a dedup key; this twin exists so the
    * fingerprint FAMILY carries one full value oracle (DuckDB ships
    * md5, not xxhash64) alongside t15's on-corpus injectivity pin. */
  def fingerprintMd5(docs: DataFrame): DataFrame =
    docs
      .withColumn("_ws", ws)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        expr("""array_min(
            transform(sequence(1, greatest(size(_ws) - 2, 1)),
              i -> md5(concat_ws(' ', element_at(_ws, i),
                element_at(_ws, least(i + 1, size(_ws))),
                element_at(_ws, least(i + 2, size(_ws)))))))""")
          .as("min_shingle_md5"))

  /** The ENGINE-REPLAYABLE winnowing twin (t22): the t07/d06 selection
    * rule — min per window of `w` consecutive k-gram hashes,
    * deduplicated — over md5 hex digests of CHARACTER k-grams instead
    * of the Rabin–Karp rolling hash (ASCII hex, so both engines'
    * string mins agree; the VALUE set is tie-rule-independent, since a
    * window's min value is the same whichever position carries it).
    * Shares winnowing's guarantee shape: any shared substring of
    * length ≥ w+k−1 yields a shared fingerprint. Long-form
    * (doc_id, fp) rows, sorted distinct per doc. The rolling-hash
    * native expression (t07) stays the production path — O(1)/gram
    * vs a digest per gram; this twin gives the WINNOWING computation
    * a full value oracle alongside t15/d13's subset pins — over a
    * DETERMINISTIC 1-in-4 document sample: the oracle pins the
    * selection rule at every position of every sampled doc, which a
    * sample covers fully; a digest per character position over the
    * WHOLE corpus would only re-price md5 throughput (one full-corpus
    * digest pass already exists as t21). Narrow: per-doc transform +
    * explode, no shuffle before the gate sort. */
  def winnowFingerprintsMd5(docs: DataFrame, k: Int = 8, w: Int = 16): DataFrame =
    docs
      .filter(col("doc_id") % 4 === 0 && length(col("text")) >= k)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, length(text) - ${k - 1}),
            i -> md5(substring(text, i, $k)))""").as("hs"))
      .withColumn("win", least(lit(w), size(col("hs"))))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(hs) - win + 1),
           j -> array_min(slice(hs, j, win))))""")).as("fp"))

  /** The ENGINE-REPLAYABLE winnow-OVERLAP twin (d19): d06's complete
    * pipeline — fingerprints per doc, boilerplate df-filter (≤ maxDf),
    * inverted-index equi-join on fingerprint, shared-count ≥ minShared
    * gate — over [[winnowFingerprintsMd5]]'s oracle-able selection
    * (t22's 1-in-4 sampled md5 winnow, per-doc-distinct fingerprints).
    * With t22 pinning the SELECTION rule, this twin pins the JOIN
    * algebra downstream of it; the xxhash64 rolling-hash winnow
    * ([[winnowOverlapPairs]], native `WinnowFingerprint`) stays the
    * production path. Same shapes: df-agg + semi-join + posting-list
    * self-join, all bounded by the df cap. */
  def winnowOverlapPairsMd5(docs: DataFrame, minShared: Int = 3,
                            maxDf: Int = 20): DataFrame = {
    // materialize the fingerprints once (r21): they feed the df-cap
    // aggregate, the semi-join probe and BOTH posting-list join sides —
    // uncut, the md5-per-character-position transform (the dominant
    // cost) re-runs for every consumer (4 scans in the r20 plan)
    val fps = graft.operators.eagerCut(winnowFingerprintsMd5(docs))
    val rare = fps.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"), "left_semi")
    val a = kept.select(col("fp"), col("doc_id").as("a_id"))
    val b = kept.select(col("fp"), col("doc_id").as("b_id"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Global top-k word bigrams (count desc, bigram asc tie-break). */
  def topBigrams(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      .withColumn("_ws", ws)
      .filter(size(col("_ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_ws) - 1), i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** BPE-ish sub-word tokenization: letter runs, digit runs, and single
    * punctuation marks as separate tokens (the pre-tokenizer split every
    * BPE vocabulary starts from). Counts only — the token stream itself
    * stays inside the plan. */
  def regexTokenStats(docs: DataFrame): DataFrame = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_tokens"),
      size(ws).cast("long").as("n_ws_tokens"))
  }

  /** Winnowing fingerprints (rolling Rabin–Karp + min-per-window, the
    * SIGMOD'03 scheme) via the native `WinnowFingerprint` expression;
    * overlap pairs = docs sharing ≥ minShared fingerprints, met through
    * an inverted-index equi-join on fingerprint (no pairwise scan).
    *
    * Boilerplate guard: fingerprints appearing in more than maxDf
    * documents are dropped before pairing — they carry no near-dup
    * signal and their posting lists are what makes the self-join
    * quadratic (a fingerprint shared by n docs yields n²/2 pairs). */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int = 3, maxDf: Int = 20): DataFrame = {
    // materialized once (r21): same df-cap + semi-join + posting-list
    // self-join consumers as the md5 twin — see winnowOverlapPairsMd5
    val fps = graft.operators.eagerCut(docs.select(col("doc_id"),
      explode(graft.functions.WinnowFingerprint.winnow_fingerprint(col("text"))).as("fp")))
    val rare = fps.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"), "left_semi")
    val a = kept.select(col("fp"), col("doc_id").as("a_id"))
    val b = kept.select(col("fp"), col("doc_id").as("b_id"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** TF-IDF top-k terms per document. Classic two-aggregate shape: tf
    * per (doc, term) and df per term are both map-side-combinable
    * shuffles; the corpus size joins in as a broadcast scalar. The
    * score uses the raw rarity ratio tf·N/df rather than tf·ln(N/df):
    * multiplication/division are exactly-rounded IEEE ops (bit-equal in
    * any engine, so the DuckDB oracle can hash-compare) while ln is
    * not; the ranking they induce per document is identical whenever
    * ties are broken by term, since x ↦ ln is monotone. */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(ws).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
    topKPer(scored, Seq(col("doc_id")), Seq(col("score").desc, col("term")), k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1
    * use these as pretraining quality filters): duplicate word-bigram
    * fraction and the share of bigram slots taken by the single most
    * frequent bigram (tie-broken lexicographically so the pick is
    * deterministic cross-engine). One explode + one (doc, gram) count —
    * both shuffles are map-side combinable and partition by doc_id, so
    * the per-doc window never re-shuffles. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val grams = docs
      .withColumn("_ws", ws)
      .filter(size(col("_ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_ws) - 1), i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"))
        .as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    // top bigram via min(struct(-c, gram)) — struct ordering is
    // lexicographic by field, so the minimum IS (highest count,
    // lexicographically-first gram). One map-side-combinable aggregate
    // instead of a per-doc window sort + rank + second aggregate.
    counts
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        min(struct((-col("c")).as("negc"), col("gram"))).as("_top"))
      .withColumn("top_bigram", col("_top.gram"))
      .withColumn("top_n", -col("_top.negc"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams")).as("dup_bigram_frac"),
        col("top_bigram"), col("top_n"),
        (col("top_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Benchmark-contamination scan: which training documents share word
    * `n`-grams with a held-out eval set (here: doc_id % 20 == 0, a
    * deterministic 5% split)? The standard n-gram-collision check run
    * before any pretraining job (GPT-3 appx. C / PaLM §8 style). Grams
    * are deduped per document BEFORE the join, so a gram repeated inside
    * one doc can't inflate the collision count; the join is a plain
    * equi-shuffle on the gram. At 100 TB the eval side is tiny — its
    * deduped gram set broadcasts, and the train side never shuffles. */
  def contaminationScan(docs: DataFrame, n: Int = 4): DataFrame =
    contaminationScan(docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0), n)

  /** Core form with explicit train/eval sides: each training doc's
    * verdict depends only on itself and the eval set, so callers (the
    * curation pipeline) may pass an already-reduced train side and get
    * the identical per-doc answer for less gram work. */
  def contaminationScan(train: DataFrame, evalSet: DataFrame, n: Int): DataFrame = {
    def gramsOf(df: DataFrame, idAs: String): DataFrame =
      df.withColumn("_ws", ws)
        .filter(size(col("_ws")) >= n)
        .select(col("doc_id").as(idAs), explode(expr(
          s"transform(sequence(1, size(_ws) - ${n - 1}), i -> concat_ws(' ', slice(_ws, i, $n)))"))
          .as("gram"))
        .distinct()
    gramsOf(train, "train_id").join(broadcast(gramsOf(evalSet, "eval_id")), Seq("gram"))
      .groupBy(col("train_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Misra–Gries heavy-hitter CANDIDATE tokens over the whole corpus —
    * the bounded-memory sketch surface (see functions/MisraGriesAgg for
    * the algorithm and the 100 TB rationale: k counters per partition
    * ride the shuffle instead of one row per distinct vocabulary term).
    * Output = the candidate token set; t14 pins the one-sided-error
    * guarantee (true heavy hitters ⊆ candidates) against the exact
    * answer, the same containment-pin pattern as d11. */
  def heavyHitterCandidates(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = docs.select(explode(ws).as("value")).as(Encoders.STRING)
    toks.select(new graft.functions.MisraGriesAgg(k).toColumn.name("mg"))
      .toDF("mg")
      .select(explode(map_keys(col("mg"))).as("token"))
  }

  /** Count–Min point-frequency estimates for the corpus's exact top-n
    * tokens (see functions/CountMinAgg for the algorithm and the 100 TB
    * rationale: a depth×width counter grid rides the shuffle instead of
    * one row per distinct vocabulary term; merge = element-wise add, so
    * the sketch is invariant under any partitioning or retry).
    *
    * The md5 hash family is engine-replayable, so unlike t14's
    * containment pin this carries a FULL value-level oracle: DuckDB
    * rebuilds the identical grid from the frequency table (bucket sums
    * weighted by count ≡ one increment per occurrence — addition
    * commutes) and replays every estimate. Estimates are exact-or-over
    * by construction (est ≥ exact always; overcount = collision mass in
    * the lightest of the token's depth buckets). */
  /** The catalog CMS shape — depth/width single-sourced here for the
    * aggregator calls, the estimate reads, and BOTH oracles (t17/st20);
    * a width change that missed one copy would silently break the
    * sketch/estimate agreement. */
  val CmsDepth = 3
  val CmsWidth = 128

  def cmsEstimates(docs: DataFrame, depth: Int = CmsDepth,
                   width: Int = CmsWidth, topn: Int = 10): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = docs.select(explode(ws).as("w")).filter(col("w") =!= "")
    val sketch = toks.as(Encoders.STRING)
      .select(new graft.functions.CountMinAgg(depth, width).toColumn.name("cms"))
      .toDF("cms")
    cmsEstimatesFor(toks, sketch, depth, width, topn)
  }

  /** Estimate read shared by the batch (t17) and streaming (st20)
    * paths: exact top-n probe tokens from `toks` (one `w` column)
    * against a 1-row `cms` grid. */
  private[graft] def cmsEstimatesFor(toks: DataFrame, sketch: DataFrame,
                                     depth: Int = CmsDepth,
                                     width: Int = CmsWidth,
                                     topn: Int = 10): DataFrame = {
    val probes = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col("w")).limit(topn)
    probes.crossJoin(broadcast(sketch))
      .select(col("w").as("token"), col("exact_c"),
        cmsEstimate(depth, width, col("w")).as("cms_est"))
      .orderBy(col("exact_c").desc, col("token"))
  }

  /** The grid-rebuild oracle shared by t17 and st20: `tkSelect` yields
    * the token relation (one `w` column); the rest — frequency table,
    * count-weighted (row, bucket) sums, min-over-rows estimates — is
    * the one shared definition. */
  private[graft] def cmsOracleSql(tkSelect: String, depth: Int = CmsDepth,
                                  width: Int = CmsWidth): String =
    s"""WITH tk AS ($tkSelect),
       freq AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_c
                FROM tk WHERE w <> '' GROUP BY w),
       probes AS (SELECT w, exact_c FROM freq
                  ORDER BY exact_c DESC, w LIMIT 10),
       rs AS (SELECT unnest(range(0, $depth)) AS r),
       grid AS (SELECT r, ${cmsBucketSql("r", "w", width)} AS b,
                  CAST(sum(exact_c) AS BIGINT) AS s
                FROM freq CROSS JOIN rs GROUP BY 1, 2)
       SELECT p.w AS token, p.exact_c,
         CAST(min(g.s) AS BIGINT) AS cms_est
       FROM probes p
       JOIN rs ON true
       JOIN grid g ON g.r = rs.r AND g.b = ${cmsBucketSql("rs.r", "p.w", width)}
       GROUP BY p.w, p.exact_c
       ORDER BY p.exact_c DESC, token"""

  /** CMS point-estimate read against a `cms` grid column in scope:
    * min over rows of the token's bucket counter. bucket_r(tok) =
    * first 4 hex digits of md5("r:tok") mod width — the same two
    * digest bytes CountMinAgg.bucketOf reads; element_at is 1-based.
    * Shared by the batch (t17) and streaming (st20) readers. */
  private[graft] def cmsEstimate(depth: Int, width: Int,
                                 token: Column): Column = {
    def bucketCol(r: Int) =
      conv(substring(md5(concat(lit(s"$r:"), token)), 1, 4), 16, 10)
        .cast("long") % width
    least((0 until depth).map { r =>
      element_at(col("cms"), (bucketCol(r) + lit(r * width + 1)).cast("int"))
    }: _*)
  }

  /** DuckDB mirror of the CMS bucket arithmetic (the c01 hex-digit
    * pattern with a row salt) — shared by the t17 and st20 oracles.
    * Like `CountMinAgg`, the bucket draws from the first two digest
    * bytes only, so `width` must stay ≤ 65536 (enforced by the
    * aggregator's constructor; a wider grid would never be filled). */
  private[graft] def cmsBucketSql(rExpr: String, tokExpr: String,
                                  width: Int): String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST($rExpr AS VARCHAR) || ':' || $tokExpr), $i, 1)) - 1)"
    s"((${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)}) % $width)"
  }

  /** One full BPE merge step — the tokenizer-TRAINING inner loop
    * (Sennrich et al. 2016) at corpus scale: weighted adjacent-pair
    * counts over the vocabulary, the argmax merge (count desc, then
    * lexicographic — deterministic), greedy merge application, recount.
    * Returns the post-merge top pairs with the merged symbol rendered
    * as its digraph.
    *
    * The merge applies via `replace(w, l||r, ⟨placeholder⟩)`: string
    * replace is greedy left-to-right non-overlapping in BOTH engines —
    * exactly BPE's merge semantics while every symbol is one char ("aaa"
    * under merge "aa" → [aa][a]) — which is what keeps the whole
    * two-level recurrence SQL-replayable. Round r's placeholder is the
    * private-use code point U+E000+r (see `pua`), NOT chr(r): the
    * documents corpus is shared with the raw-bytes views (m04/m10/m11),
    * and a real control char chr(1..R) in a word would be
    * indistinguishable from a merged symbol — identically on both
    * engines, so the hash gate could never have caught the collision.
    * U+E000.. is reserved-by-Unicode private use: no real text assigns
    * it, and the remaining precondition (corpus free of U+E001..U+E0FF)
    * is explicit rather than silent.
    *
    * Scale: the heavy kernel is the pair count — map-side-combinable
    * (l, r)-keyed sums over the VOCABULARY (already aggregated, ≪
    * corpus); the chosen merge is a 1-row broadcast; apply is a narrow
    * map. Real BPE training = this step iterated with the same plan
    * per round (g01-style lineage cuts). */
  /** The BPE base vocabulary (word → corpus frequency) and the weighted
    * adjacent-pair count — shared by the one-step kernel (t18) and the
    * iterated trainer (t19). */
  /** Round r's in-vocabulary placeholder symbol: private-use-area code
    * point U+E000+r. Single BMP char (one UTF-16 unit, one code point),
    * so substring/length pair-splitting treats it like any letter on
    * both engines; DuckDB's chr() is code-point based, so the oracles
    * mirror it as chr(57344+r). Spark's chr() is byte-only (mod 256) —
    * the Scala side must carry it as a string literal, never chr(). */
  private[operators] def pua(round: Int): Char = (0xE000 + round).toChar

  private def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(ws).as("w")).filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  private def bpePairCounts(v: DataFrame): DataFrame =
    v.filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 1)").as("l"),
        expr("substring(w, i + 1, 1)").as("r"), col("freq"))
      .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("pair_count"))

  def bpeMergeStep(docs: DataFrame, topn: Int = 10): DataFrame = {
    val vocab = bpeVocab(docs)
    val top1 = bpePairCounts(vocab)
      .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)
      .select(col("l").as("m_l"), col("r").as("m_r"))
    val merged = vocab.crossJoin(broadcast(top1))
      .withColumn("_s", lit(pua(1).toString))
      .select(expr("replace(w, m_l || m_r, _s)").as("w"), col("freq"))
    bpePairCounts(merged).crossJoin(broadcast(top1))
      .select(
        when(col("l") === lit(pua(1).toString), concat(col("m_l"), col("m_r")))
          .otherwise(col("l")).as("pair_l"),
        when(col("r") === lit(pua(1).toString), concat(col("m_l"), col("m_r")))
          .otherwise(col("r")).as("pair_r"),
        col("pair_count"))
      .orderBy(col("pair_count").desc, col("pair_l"), col("pair_r"))
      .limit(topn)
  }

  /** ITERATED BPE training — t18's inner loop run for `rounds` rounds,
    * producing the artifact real training produces: the ordered MERGE
    * TABLE (round, left symbol, right symbol — fully rendered — and the
    * pair count that won the round). Round r's merged symbol lives in
    * the vocabulary as the single private-use placeholder char `pua(r)`
    * (U+E000+r — see the `pua` doc for why not chr(r)), so every
    * symbol stays one char and the same substring pair-split drives all
    * rounds; placeholders are expanded through the accumulated merge
    * history on output.
    *
    * Scale: the per-round heavy kernel is the map-side-combinable pair
    * count over the VOCABULARY (≪ corpus, and it shrinks as merges
    * land); the winning pair is ONE collected row per round — the merge
    * table is driver-state in every real BPE trainer, and R rows is the
    * entire driver traffic. Each round's vocabulary is eagerly
    * materialized (localCheckpoint) — the g03 lesson: a lazily chained
    * loop whose round reads its predecessor TWICE (argmax + re-encode)
    * recomputes 2^R times without the cut. */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainMerges(docs, rounds)
      .map(m => (m.round.toLong, m.renderedL, m.renderedR, m.gain))
      .toDF("merge_round", "merge_l", "merge_r", "gain")
  }

  /** One learned merge: round number, the pair as it appears in the
    * placeholder-encoded vocabulary (`rawL`/`rawR` — single chars, each
    * either a base char or an earlier round's `pua`), the same pair
    * fully rendered through the merge history, and the winning pair
    * count. The raw form is what the t20 encoder replays; the rendered
    * form is what users (and the t19 merge table) see. */
  private[graft] final case class BpeMerge(
      round: Int, rawL: String, rawR: String,
      renderedL: String, renderedR: String, gain: Long)

  /** The t19 training loop, returning the driver-side merge table (R
    * rows — the same R rows every real BPE trainer holds in driver
    * state; this is the entire collect traffic). */
  private[graft] def bpeTrainMerges(docs: DataFrame, rounds: Int): Seq[BpeMerge] = {
    // cutLineage, not localCheckpoint: same round barrier (the g03
    // lesson — a lazy chain whose round reads its predecessor twice
    // recomputes 2^R times), minus the eager count job per round — the
    // next round's argmax collect is what materializes each cut, so the
    // FINAL round's vocabulary (which nothing reads) never runs at all.
    // Handles are kept so every round's blocks are released at operator
    // end: the merge table is driver state, nothing downstream
    // references the vocabulary datasets.
    val handles = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    var (vocab, vocabRdd) = cutLineage(bpeVocab(docs))
    handles += vocabRdd
    val rendered = scala.collection.mutable.Map[Char, String]()
    def render(s: String): String =
      s.flatMap(c => rendered.getOrElse(c, c.toString))
    val merges = (1 to rounds).flatMap { round =>
      val top = bpePairCounts(vocab)
        .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)
        .collect()
      top.headOption.map { row =>
        val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        // pattern/replacement as literal COLUMNS, never spliced into SQL
        // text: lit() carries any symbol — private-use placeholders,
        // non-ASCII, surrogate pairs — exactly (Spark's chr() is mod-256
        // byte-only, so a chr(codePoint) splice would silently mangle a
        // non-ASCII winning pair and desync from the oracle)
        val (next, nextRdd) = cutLineage(vocab
          .withColumn("_p", lit(l + r))
          .withColumn("_s", lit(pua(round).toString))
          .select(expr("replace(w, _p, _s)").as("w"), col("freq")))
        vocab = next
        handles += nextRdd
        val (rl, rr) = (render(l), render(r))
        rendered(pua(round)) = rl + rr
        BpeMerge(round, l, r, rl, rr, cnt)
      }
    }
    // deterministic release (blocking: the blocks are vocabulary-sized,
    // and a deterministic zero beats an async maybe-zero in the bench's
    // cache sentinel)
    handles.foreach(_.unpersist(blocking = true))
    merges
  }

  /** t20 — BPE corpus ENCODE: the serving half of the t19 trainer.
    * Trains the R-round merge table, then tokenizes EVERY document with
    * it: each word replays the same placeholder recurrence the trainer
    * ran over the vocabulary (`replace(w, rawL‖rawR, pua(r))` in merge
    * order — greedy left-to-right non-overlapping replace IS BPE's
    * apply rule while every symbol is one char), then splits into
    * single-char symbols and renders placeholders back to their merged
    * digraphs. Output: one row per (doc, word position, symbol
    * position) with the rendered token — the token stream a pretraining
    * pipeline feeds the model.
    *
    * Scale: after the R driver-side argmax rows (training), encoding is
    * a SINGLE NARROW pass over the corpus — R chained `replace`
    * projections, an explode, and a literal-map render; no join, no
    * shuffle (the final orderBy exists only for the deterministic gate;
    * a production sink drops it). The merge table rides into the
    * closure as R string literals — at a real vocab size it would be a
    * broadcast map + a scalar expression, same shape. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val merges = bpeTrainMerges(docs, rounds)
    // 1-based word coordinates BEFORE the empty-token filter, so the
    // (doc_id, wi) coordinates are stable under it (mirrors the
    // oracle's range-over-list indexing)
    val words = docs
      .select(col("doc_id"), posexplode(ws).as(Seq("wi0", "w")))
      .select(col("doc_id"), (col("wi0") + 1).cast("long").as("wi"), col("w"))
      .filter(col("w") =!= "")
    val enc = merges.foldLeft(words) { (df, m) =>
      df.withColumn("_p", lit(m.rawL + m.rawR))
        .withColumn("_s", lit(pua(m.round).toString))
        .select(col("doc_id"), col("wi"), expr("replace(w, _p, _s)").as("w"))
    }
    val syms = enc
      .withColumn("si", explode(sequence(lit(1), length(col("w")))))
      .select(col("doc_id"), col("wi"), col("si").cast("long").as("si"),
        expr("substring(w, si, 1)").as("sym"))
    // render: each merge's placeholder is a single char and rendered
    // digraphs carry no placeholders, so the chain order is immaterial
    val out = merges.foldLeft(syms) { (df, m) =>
      df.withColumn("_ph", lit(pua(m.round).toString))
        .withColumn("_rv", lit(m.renderedL + m.renderedR))
        .select(col("doc_id"), col("wi"), col("si"),
          expr("replace(sym, _ph, _rv)").as("sym"))
    }
    out.select(col("doc_id"), col("wi"), col("si"), col("sym").as("token"))
      .orderBy(col("doc_id"), col("wi"), col("si"))
  }

  /** Exact heavy hitters: tokens with frequency strictly above
    * n_total/(k+1) — the ground-truth side of t14's pin. The total
    * rides a 1-row broadcast cross join, never a driver collect. */
  private[graft] def exactHeavyHitters(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs.select(explode(ws).as("token"))
    toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(toks.agg(count(lit(1)).as("n_total"))))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("token"))
  }

  /** Temperature-flattened per-language sampling quotas + the sampled
    * docs (the multilingual mixture trick from mT5/XLM-R: upsample the
    * tail by weighting languages by (share)^alpha, alpha < 1). Each
    * language's quota is computed from per-group scalars only —
    * sqrt/mult/round are all exactly-rounded IEEE ops, so no cross-group
    * float summation exists to disagree across engines (a normalized
    * mixture would sum the weights driver-side at plan time). The quota
    * rows are then taken in md5(doc_id) order — the same deterministic
    * "shuffle" q43 uses. */
  def temperatureMixture(docs: DataFrame, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTotal = docs.agg(count(lit(1)).as("n_total"))
    // alpha fixed at 1/2 via sqrt, not pow(x, 0.5): IEEE-754 requires
    // sqrt be exactly rounded while pow carries a 1-ulp license (both in
    // the JDK and in C libm), and a 1-ulp disagreement under round()
    // flips a quota at the .5 boundary.
    val quota = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nTotal))
      .withColumn("quota",
        round(lit(k) * sqrt(col("n_docs").cast("double") / col("n_total"))).cast("long"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(quota.select(col("lang"), col("n_docs"), col("quota"))), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("n_docs"), col("quota"), col("rk"), col("doc_id"))
  }

  /** CCNet-style statistical-LM quality proxy in EXACT integer
    * arithmetic: a document full of rare tokens scores high, one full of
    * corpus-frequent tokens scores low. Per token the rarity is
    * `T div c(w)` (corpus token total over the token's corpus count —
    * the integer reciprocal of its unigram probability); the doc score
    * is the milli-scaled mean `(sum · 10000) div n_tokens`. All int64 —
    * unlike the usual `-mean log p(w)` there is NO float anywhere, so
    * the score is bit-identical on any engine and any cluster size
    * (and monotone-equivalent rankings for filtering thresholds).
    *
    * Scale: one explode, one map-side-combinable token count, one
    * broadcast scalar; the token→freq join shuffles on the token, the
    * final aggregate on doc_id. Sum headroom: T ≤ 1e13 tokens × 1e3
    * tokens/doc = 1e16 per doc, well under int64. */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), explode(ws).as("w")).filter(col("w") =!= "")
    val freq = tk.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // T = Σc from the tiny (w, c) table — NOT a second corpus explode
    val total = freq.agg(sum(col("c")).as("t_total"))
    tk.join(freq, Seq("w")).crossJoin(broadcast(total))
      .select(col("doc_id"), expr("t_total div c").as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("rarity_sum"))
      .withColumn("rarity_x1e4", expr("(rarity_sum * 10000) div n_tokens"))
  }

  /** Duplicate-SPAN detection between near-dup candidates — the
    * alignment view exact-substring dedup needs (Lee et al. 2022 argue
    * span-level dups, not whole-doc dups, drive memorization): for every
    * blocked pair, shared word 5-grams become alignment points (i, j);
    * consecutive points on one diagonal (j−i constant) are ONE copied
    * span, recovered with the gaps-and-islands trick (i − row_number()
    * per diagonal). Reports the longest island per pair, tie-broken
    * (longest, earliest in A, lowest diagonal) — deterministic.
    *
    * Scale: gram positions explode the corpus ×(words−4) — same order
    * as every shingle pipeline here; the pair join is block-bounded. The
    * gram join leaves data partitioned by (blk, gram), which serves none
    * of the downstream keys — so the plan repartitions ONCE on
    * (a_id, b_id), and the islands window (pair, diag), the run
    * aggregate (pair, diag, grp) and the final per-pair aggregate are
    * all satisfied by that single exchange (each clusters on a superset
    * of (a_id, b_id)). */
  def duplicateSpans(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r22 (guide §2.3/§2.4, VERDICT item 4): the position-gram relation
    // is MATERIALIZED once — previously both alignment join sides
    // re-ran the posexplode (corpus × positions) independently, because
    // the build side goes straight into a BroadcastExchange with no
    // shuffle underneath for ReuseExchange to share. One explode now
    // feeds both sides; the join strategy (probe side never shuffles,
    // gram build side broadcasts) is unchanged.
    val grams = eagerCut(docs
      .withColumn("_ws", ws)
      .filter(size(col("_ws")) >= n)
      .select(col("doc_id"), substring(col("text"), 1, 20).as("blk"),
        posexplode(expr(
          s"transform(sequence(1, size(_ws) - ${n - 1}), i -> concat_ws(' ', slice(_ws, i, $n)))"))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("blk"), col("pos").cast("long").as("pos"), col("gram")))
    val a = grams.select(col("blk"), col("gram"), col("doc_id").as("a_id"), col("pos").as("i"))
    val b = grams.select(col("blk"), col("gram"), col("doc_id").as("b_id"), col("pos").as("j"))
    val aligned = a.join(b, Seq("blk", "gram"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("i"), (col("j") - col("i")).as("diag"))
      .repartition(col("a_id"), col("b_id"))
    val wDiag = Window.partitionBy(col("a_id"), col("b_id"), col("diag")).orderBy(col("i"))
    aligned
      .withColumn("grp", col("i") - row_number().over(wDiag))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_len"), min(col("i")).as("start_i"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("run_len")).as("n_align"),
        max(struct(col("run_len"), (-col("start_i")).as("nsi"), (-col("diag")).as("nd"))).as("_b"))
      .select(col("a_id"), col("b_id"), col("n_align"),
        col("_b.run_len").as("max_run"),
        (col("_b.run_len") + lit(n - 1).cast("long")).as("max_span_words"),
        (-col("_b.nsi")).as("span_start_a"))
  }

  /** Corpus-level duplicate-text measure per document: the share of a
    * doc's distinct word n-grams that also occur in at least one OTHER
    * document — the per-doc signal substring-level dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better") keys
    * on, as an inverted-index aggregate instead of a suffix array.
    * Integer milli-rate; docs shorter than n words emit nothing.
    *
    * Scale: grams ride an inverted index (shuffle on gram, never doc
    * bodies); the document-frequency side is one row per distinct gram,
    * so a boilerplate gram replicates ONE small row across its join
    * matches, not a row set — no skew blowup. */
  def dupNgramRate(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = docs.withColumn("_ws", ws)
      .filter(size(col("_ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(_ws) - ${n - 1}), i -> concat_ws(' ', slice(_ws, i, $n)))"))
        .as("gram"))
      .distinct()
    // grams are distinct per doc, so count(*) per gram == document freq.
    // Computed as a WINDOW count over the gram partition (r21, guide
    // §2.4): the former groupBy+join-back shape evaluated the gram
    // explode TWICE (once per join side) and paid an extra exchange of
    // the big gram relation; the window needs the explode once and one
    // exchange on gram.
    import org.apache.spark.sql.expressions.Window
    grams
      .withColumn("gdf", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_rate_x1e4", expr("(n_dup_grams * 10000) div n_grams"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones Okapi weighting) in
    * EXACT integer arithmetic — the query→document half of the retrieval
    * surface (s16 is the embedding half): score every corpus document
    * against a deterministic query workload and keep the top `k` per
    * query, with both the saturating tf term and the idf computed as
    * scaled integer divisions so the score is bit-identical on any
    * engine (the t12/q59 discipline — no `ln`, no float division):
    *
    *   tf-term ×1e4 = (22·avgdl·tf·1e4) div (10·avgdl·tf + 3·avgdl + 9·dl)
    *     — Okapi's tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) at the standard
    *       k1=1.2, b=0.75, scaled through integer avgdl = TL div N
    *       (floor-mean quantization, the s11 centroid precedent)
    *   idf ×1e4 = ((2·(N−df)+1)·1e4) div (2·df+1)
    *     — the RSJ odds ratio (N−df+0.5)/(df+0.5) kept as a rational
    *       rather than its log: per-term scores multiply idf·tf-term,
    *       so rankings keep idf's rare-term dominance (t08's raw-ratio
    *       rarity argument); score = Σ over query terms, ×1e8 scaled.
    *
    * The query workload derives from the corpus itself (so it exists at
    * every scale factor): each doc_id ≡ 0 mod `queryMod` contributes its
    * first `qTerms` distinct words, and retrieval excludes the query's
    * own document (the dedup/decontamination usage). Terms with
    * df·5 > 4·N (document frequency above 80% of the corpus) are
    * dropped — the stopword guard that also BOUNDS every posting list
    * the join touches. (The synthetic fixtures draw from a ~31-word
    * vocabulary, so the guard must sit above their df floor — at a
    * web-corpus vocabulary it prunes the same handful of universal
    * stopwords either way.)
    *
    * Scale: the corpus tokenizes once into (doc_id, w, tf) postings;
    * the query term set (N/queryMod docs × ≤qTerms terms) BROADCASTS, so
    * the posting side never shuffles for the match (t10's eval-split
    * shape); the matched postings — Σ capped posting lists, not the
    * corpus — shuffle once on doc_id for the length join and once on
    * q_id for the per-query top-k window. Overflow headroom: idf×1e4 ≤
    * 6.7e3·N, tf-term×1e4 < 2.2e4, qTerms ≤ 8 ⇒ score < 1.2e9·N —
    * int64-safe beyond 1e9 documents. */
  def bm25Retrieve(docs: DataFrame, k: Int = 5, queryMod: Int = 50,
                   qTerms: Int = 8): DataFrame = {
    // NOT materialized (r21, measured): tf's heavy tokenize + partial
    // aggregate sits below its (doc_id, w) exchange, which ReuseExchange
    // already shares between the df-aggregate subtree and the scoring
    // join — a checkpoint barrier measured neutral (3.3 s → 3.2-3.5 s)
    val tk = docs.select(col("doc_id"), explode(ws).as("w")).filter(col("w") =!= "")
    val tf = tk.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dl = bm25DocLens(docs)
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
    bm25Score(tf, dl, dfreq, stats,
      bm25QueryWorkload(docs, queryMod, qTerms), k)
  }

  /** Doc lengths for BM25 as a NARROW map over the corpus — `dl` =
    * non-empty token count per doc, identical to `Σ tf` but without a
    * second shuffle of the postings onto doc_id; the `dl > 0` guard
    * makes the doc set exactly "docs with ≥ 1 posting", so `n_docs`/
    * `tl` match the oracle's postings-derived formulation value for
    * value. */
  private[graft] def bm25DocLens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(filter(ws, w => w =!= "")).cast("long").as("dl"))
      .filter(col("dl") > 0)

  /** The corpus-derived query workload t23/t24 score against: each
    * doc_id ≡ 0 mod `queryMod` contributes its first `qTerms` distinct
    * non-empty words as (q_id, w) rows. A narrow scan of the sampled
    * docs only — at any scale this side is N/queryMod docs and
    * broadcasts. */
  def bm25QueryWorkload(docs: DataFrame, queryMod: Int = 50,
                        qTerms: Int = 8): DataFrame =
    docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(ws, 1, qTerms))).as("w"))
      .filter(col("w") =!= "")

  /** The shared BM25 scoring tail (see [[bm25Retrieve]] for the score
    * arithmetic): df-cap the query terms, broadcast them over the
    * postings, attach doc lengths, sum the per-term products, rank
    * top-`k` per query (score desc, doc_id asc tiebreak). */
  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame, dfreq: DataFrame,
                        stats: DataFrame, queries: DataFrame,
                        k: Int): DataFrame =
    topKPer(bm25ScoredPairs(tf, dl, dfreq, stats, queries), Seq(col("q_id")),
        Seq(col("score_x1e8").desc, col("doc_id")), k)
      .select(col("q_id"), col("rk"), col("doc_id"), col("score_x1e8"))

  /** The per-(query, document) scored relation BEFORE the top-k rank —
    * factored out (r22) because a document's score depends only on ITS
    * OWN postings + doc length and the FROZEN df/stats, which makes the
    * relation segment-decomposable: scoring a partitioned corpus
    * segment by segment and unioning the per-pair rows yields exactly
    * the relation scoring the whole corpus yields. (A per-commit
    * incremental serve for st25 built on this was measured
    * NEUTRAL-to-worse at the bounded replay's 2 commits — the base
    * relation's checkpoint costs one extra materialization; the shape
    * pays only at a real deployment's commit cadence — and was
    * reverted; the factoring stays because it is zero-cost and
    * documents the decomposability.) */
  private[graft] def bm25ScoredPairs(tf: DataFrame, dl: DataFrame,
                        dfreq: DataFrame, stats: DataFrame,
                        queries: DataFrame): DataFrame = {
    val qTermsDf = queries.join(dfreq, Seq("w")).crossJoin(broadcast(stats))
      .filter(col("df") * 5 <= col("n_docs") * 4)
    tf.join(broadcast(qTermsDf), Seq("w"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, Seq("doc_id"))
      .withColumn("avgdl", expr("tl div n_docs"))
      .withColumn("idf_x1e4",
        expr("((2 * (n_docs - df) + 1) * 10000) div (2 * df + 1)"))
      .withColumn("tfterm_x1e4", expr(
        "(22 * avgdl * tf * 10000) div (10 * avgdl * tf + 3 * avgdl + 9 * dl)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("idf_x1e4") * col("tfterm_x1e4")).as("score_x1e8"))
  }

  /** Bigram-CONDITIONAL surprise score — the statistical-LM quality
    * filter in its CCNet/KenLM shape (score text by how improbable its
    * transitions are under a corpus LM), one order up from [[tokenRarity]]:
    * where t12 prices each token by its MARGINAL corpus frequency, this
    * prices each bigram by the integer reciprocal of its CONDITIONAL
    * probability `r = (c1(w1)·1e4) div c2(w1,w2)` (c2 = corpus bigram
    * count, c1 = count of w1 as a bigram PREFIX — Σ c2 over the bigram
    * table, never a second corpus pass), so boilerplate transitions
    * score low and improbable ones high; the doc score is the integer
    * mean over its bigrams. No `ln`, no float — bit-identical on any
    * engine, monotone-equivalent to perplexity-based filtering
    * thresholds. The prefix is recovered from the bigram string
    * (`substring_index` ≡ `split_part`: tokens are space-split so they
    * contain none). Scale: one bigram explode, counts shuffle on the
    * bigram / its prefix (both map-side combined), the per-doc mean on
    * doc_id — the t12 shape exactly. Headroom: r SATURATES at
    * RMAX = 1e12 (`least`, mirrored in the oracle), because unclamped
    * c1 ≤ corpus bigrams ≈ 1e13 would put r at 1e17 and a ~90-bigram
    * all-singleton doc's sum past int64 — where Spark's long sum wraps
    * SILENTLY while DuckDB raises. With the cap, overflow needs one
    * doc of ≥ 9.2e6 bigrams at max surprise (a ~9-million-word
    * document of corpus-unique transitions — outside any real corpus's
    * doc envelope), and the clamp is threshold-invariant: quality
    * cutoffs live at small multiples of 1e4, far below RMAX, so no
    * filtering decision can depend on the clamped region. */
  def bigramSurprise(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = docs.withColumn("_ws", ws).filter(size(col("_ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_ws) - 1), i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"))
        .as("bigram"))
    // r22 (guide §2.4 — the t16 window rewrite, VERDICT item 3): both
    // LM statistics are WINDOW counts over the single exploded
    // occurrence relation. c2 = occurrences of this bigram (what the
    // former groupBy counted); c1 = occurrences whose PREFIX is this
    // bigram's w1, which equals Σ c2 over that prefix — the former
    // bc2→bc1 two-level sum — because summing per-bigram counts over a
    // prefix IS counting the prefix's occurrence rows. The former shape
    // evaluated the explode twice (aggregate subtree + join probe) and
    // shuffled the big relation for the c2 join AND the c1 join; the
    // windows need the explode once and the same two big exchanges
    // (bigram, w1), with no join-back.
    bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("c2", count(lit(1)).over(Window.partitionBy(col("bigram"))))
      .withColumn("c1", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .select(col("doc_id"),
        expr("least((c1 * 10000) div c2, 1000000000000)").as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("r")).as("surprise_sum"))
      .withColumn("surprise_x1e4", expr("surprise_sum div n_bigrams"))
  }

  /** PERSISTED inverted index for BM25 serving — the text-retrieval
    * lifecycle completing what s13/s15 did for vectors: tokenize and
    * aggregate the corpus ONCE, persist the four relations BM25 scoring
    * needs (`postings` (w, doc_id, tf) repartitioned on the term so
    * each posting list is co-located — the local stand-in for a
    * term-bucketed table; `doclens` (doc_id, dl); `dfreq` (w, df);
    * `stats` one (n_docs, tl) row), and serve any query workload from
    * the files alone ([[bm25RetrieveFromIndex]]) — the corpus text is
    * never re-tokenized per query batch. At 100 TB the build is the
    * one full-corpus pass and the serve reads only the probed terms'
    * posting lists (partition/bucket pruning on `w`). */
  def buildBm25Index(docs: DataFrame, dir: String): Unit = {
    val tk = docs.select(col("doc_id"), explode(ws).as("w")).filter(col("w") =!= "")
    val tf = tk.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    tf.repartition(col("w"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    val dl = bm25DocLens(docs)
    dl.write.mode("overwrite").parquet(s"$dir/doclens")
    tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/dfreq")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Serve BM25 top-`k` from a [[buildBm25Index]] layout: identical
    * results to [[bm25Retrieve]] on the indexed corpus (same scoring
    * tail over the same aggregates — pinned by spec), with the corpus
    * pass replaced by four parquet reads. */
  def bm25RetrieveFromIndex(spark: SparkSession, indexDir: String,
                            queries: DataFrame, k: Int = 5): DataFrame =
    bm25Score(
      spark.read.parquet(s"$indexDir/postings"),
      spark.read.parquet(s"$indexDir/doclens"),
      spark.read.parquet(s"$indexDir/dfreq"),
      spark.read.parquet(s"$indexDir/stats"),
      queries, k)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t16_dup_ngram_rate" -> ((s, d) =>
      dupNgramRate(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t01_token_stats" -> ((s, d) => tokenStats(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t12_token_rarity" -> ((s, d) =>
      tokenRarity(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t23_bm25_retrieve" -> ((s, d) =>
      bm25Retrieve(t(s, d, "documents")).orderBy(col("q_id"), col("rk"))),
    // persisted-index serve: built at most once per (process, sf) —
    // the first caller pays the corpus pass, every repeat prices the
    // steady-state serve (the s13 protocol applied to text); result ≡
    // t23 by construction, so the same full value oracle gates it
    "t24_bm25_index_serve" -> ((s, d) =>
      bm25RetrieveFromIndex(s,
          Similarity.cachedIndex("bm25", d)(
            buildBm25Index(t(s, d, "documents"), _)),
          bm25QueryWorkload(t(s, d, "documents")))
        .orderBy(col("q_id"), col("rk"))),
    "t13_duplicate_spans" -> ((s, d) =>
      duplicateSpans(t(s, d, "documents")).orderBy(col("a_id"), col("b_id"))),
    "t25_bigram_surprise" -> ((s, d) =>
      bigramSurprise(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t08_tfidf_topterms" -> ((s, d) =>
      tfIdfTopTerms(t(s, d, "documents")).orderBy(col("doc_id"), col("rk"))),
    // rows-only: a rolling-hash winnow isn't SQL-expressible in DuckDB
    "t07_winnow_fingerprints" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.WinnowFingerprint.winnow_fingerprint(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          element_at(col("fps"), 1).as("min_fp"))
        .orderBy(col("doc_id"))),
    "d06_winnow_overlap" -> ((s, d) =>
      winnowOverlapPairs(t(s, d, "documents"))
        .orderBy(col("a_id"), col("b_id"))),
    // the md5 twin of d06's complete fingerprint→df-filter→inverted-
    // index-join pipeline over t22's sampled md5 winnow (see
    // winnowOverlapPairsMd5 doc)
    "d19_winnow_overlap_md5" -> ((s, d) =>
      winnowOverlapPairsMd5(t(s, d, "documents"))
        .orderBy(col("a_id"), col("b_id"))),
    // SUBSET PIN for d06: winnowing guarantees every shared fingerprint
    // comes from a shared character 8-gram (modulo 64-bit rolling-hash
    // collisions), so every emitted pair must share at least one 8-gram.
    // Checked per OUTPUT pair (gram sets join to the ~|output| rows, no
    // gram self-join), violations pinned to the empty set driver-side.
    "d13_winnow_subset_pin" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val grams = docs.select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, greatest(length(text) - 7, 0)), i -> substring(text, i, 8))"))
        .as("gs"))
      winnowOverlapPairs(docs).select(col("a_id"), col("b_id"))
        .join(grams.select(col("doc_id").as("a_id"), col("gs").as("a_gs")), Seq("a_id"))
        .join(grams.select(col("doc_id").as("b_id"), col("gs").as("b_gs")), Seq("b_id"))
        .filter(size(array_intersect(col("a_gs"), col("b_gs"))) === 0)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),
    "t06_regex_tokens" -> ((s, d) => regexTokenStats(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t02_lang_id" -> ((s, d) =>
      scriptLangId(t(s, d, "documents"))
        .groupBy(col("lang"), col("script_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("script_lang"))),
    "t03_quality_score" -> ((s, d) => qualityScore(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t04_fingerprint" -> ((s, d) => fingerprint(t(s, d, "documents")).orderBy(col("doc_id"))),
    // the md5 twin of t04 — same shingle construction, engine-
    // replayable digests, FULL value oracle (see fingerprintMd5 doc)
    "t21_fingerprint_md5" -> ((s, d) =>
      fingerprintMd5(t(s, d, "documents")).orderBy(col("doc_id"))),
    // the md5 twin of t07's winnowing — same window-min selection,
    // engine-replayable digests, FULL value oracle
    "t22_winnow_md5" -> ((s, d) =>
      winnowFingerprintsMd5(t(s, d, "documents"))
        .orderBy(col("doc_id"), col("fp"))),
    "t05_top_bigrams" -> ((s, d) => topBigrams(t(s, d, "documents"))),
    "t09_repetition_stats" -> ((s, d) =>
      repetitionStats(t(s, d, "documents")).orderBy(col("doc_id"))),
    "t10_contamination" -> ((s, d) =>
      contaminationScan(t(s, d, "documents")).orderBy(col("train_id"))),
    "t11_temperature_mixture" -> ((s, d) =>
      temperatureMixture(t(s, d, "documents")).orderBy(col("lang"), col("rk"))),
    // INTEGRITY PIN for t04's xxhash64 fingerprint: a fingerprint is
    // only usable as a dedup key if it is injective ON THIS CORPUS
    // (same fp ⇒ same text) — determinism (same text ⇒ same fp) is
    // given by the function, so collision-freedom is the entire
    // remaining claim, and it is checkable: join on fp64, keep pairs
    // whose texts differ. The join shuffles 8-byte keys + text hashes,
    // never pairs of texts. Oracle = the empty set.
    "t15_fingerprint_collision_pin" -> ((s, d) => {
      val fp = fingerprint(t(s, d, "documents"))
        .join(t(s, d, "documents"), Seq("doc_id"))
        .select(col("doc_id"), col("fp64"), md5(col("text")).as("th"))
      val a = fp.select(col("doc_id").as("a_id"), col("fp64"), col("th").as("a_th"))
      val b = fp.select(col("doc_id").as("b_id"), col("fp64"), col("th").as("b_th"))
      a.join(b, Seq("fp64"))
        .filter(col("a_id") < col("b_id") && col("a_th") =!= col("b_th"))
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),
    // SUBSET PIN for the Misra–Gries sketch: every exact heavy hitter
    // (freq > n/(k+1), k = 19) must appear among the sketch candidates;
    // a row here = a heavy hitter the sketch MISSED, which the MG
    // guarantee says cannot happen. Oracle = the empty set (d11 style).
    "t14_heavy_hitters_pin" -> ((s, d) => {
      val docs = t(s, d, "documents")
      exactHeavyHitters(docs, 19)
        .except(heavyHitterCandidates(docs, 19))
        .orderBy(col("token"))
    }),
    "t17_cms_estimates" -> ((s, d) => cmsEstimates(t(s, d, "documents"))),
    "t18_bpe_merge_step" -> ((s, d) => bpeMergeStep(t(s, d, "documents"))),
    // iterated BPE training: the ordered merge table over 3 rounds,
    // placeholders rendered — the real tokenizer-training artifact
    "t19_bpe_train" -> ((s, d) =>
      bpeTrain(t(s, d, "documents")).orderBy(col("merge_round"))),
    // BPE corpus encode: tokenize every document with the table t19
    // trained — the serving half every pretraining pipeline runs
    "t20_bpe_encode" -> ((s, d) => bpeEncode(t(s, d, "documents")))
  )

  /** DuckDB chr() argument for round r's placeholder — the code-point
    * mirror of `pua(r)` (DuckDB's chr is code-point based, unlike
    * Spark's byte-mod-256 chr, which is why the Scala side carries the
    * placeholder as a string literal instead). */
  private def puaChr(round: Int): String = s"chr(${0xE000 + round})"

  /** The shared BPE-training CTE chain, generated for `rounds` levels:
    * each round's pair count → argmax (count desc, lexicographic) →
    * placeholder replace feeds the next; rendering CTEs expand the
    * U+E000+j placeholders through the accumulated (already
    * fully-rendered) merge history. Reused verbatim by the t19 train
    * oracle and the t20 encode oracle, so the two gates replay ONE
    * recurrence. */
  private def bpeOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH tk AS (
         SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
              FROM tk WHERE w <> '' GROUP BY w)"""
    for (r <- 1 to rounds) sb ++= s""",
       sp$r AS (SELECT w, freq, unnest(range(1, length(w))) AS i
               FROM v${r - 1} WHERE length(w) >= 2),
       p$r AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
                CAST(sum(freq) AS BIGINT) AS pair_count
              FROM sp$r GROUP BY l, r),
       t$r AS (SELECT l, r, pair_count FROM p$r
              ORDER BY pair_count DESC, l, r LIMIT 1),
       v$r AS (SELECT replace(w, (SELECT l || r FROM t$r), ${puaChr(r)}) AS w, freq
              FROM v${r - 1})"""
    for (r <- 1 to rounds) {
      def rend(c: String): String = (1 until r).foldLeft(c)((acc, j) =>
        s"replace($acc, ${puaChr(j)}, (SELECT rl || rr FROM rend$j))")
      sb ++= s""",
       rend$r AS (SELECT ${rend("l")} AS rl, ${rend("r")} AS rr, pair_count
                  FROM t$r)"""
    }
    sb.toString
  }

  /** The t19 oracle: the shared CTE chain + the merge-table select. */
  private def bpeTrainOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) ++ (1 to rounds).map(r => s"""
       SELECT CAST($r AS BIGINT) AS merge_round, rl AS merge_l,
         rr AS merge_r, pair_count AS gain FROM rend$r""")
      .mkString("", "\n       UNION ALL", "\n       ORDER BY merge_round")

  /** The t20 oracle: the SAME training CTE chain, then every document's
    * words replayed through the per-round replace (patterns drawn from
    * the t$r argmax CTEs), split to single-char symbols, placeholders
    * rendered through the rend$j tables. One recurrence, two gates. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val encChain = (1 to rounds).map(r =>
      s"""
       e$r AS (SELECT doc_id, wi,
                replace(w, (SELECT l || r FROM t$r), ${puaChr(r)}) AS w
              FROM e${r - 1})""").mkString(",")
    val rendToken = (1 to rounds).foldLeft("substring(w, si, 1)")((acc, j) =>
      s"replace($acc, ${puaChr(j)}, (SELECT rl || rr FROM rend$j))")
    bpeOracleCtes(rounds) ++ s""",
       dw0 AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
       dw1 AS (SELECT doc_id, unnest(range(1, len(sp) + 1)) AS wi, sp
               FROM dw0),
       e0 AS (SELECT doc_id, wi, sp[wi] AS w FROM dw1 WHERE sp[wi] <> ''),$encChain,
       sy AS (SELECT doc_id, wi, unnest(range(1, length(w) + 1)) AS si, w
              FROM e$rounds)
       SELECT doc_id, wi, si, $rendToken AS token
       FROM sy ORDER BY doc_id, wi, si"""
  }

  // the full BM25 pipeline replayed: postings, doc lengths, document
  // frequencies, the corpus scalars, the sampled query workload, the
  // df-capped match, and both scaled integer score terms (`div` ≡ `//`
  // on the nonnegative operands throughout). Shared by t23 (in-query)
  // and t24 (persisted-index serve): the serve path is result-identical
  // by construction AND by the spec pin, so one oracle gates both.
  private val Bm25OracleSql: String =
    """WITH tk AS (
           SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents) WHERE w <> ''),
         tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
                FROM tk GROUP BY doc_id, w),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM tf GROUP BY doc_id),
         dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
                   FROM tf GROUP BY w),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tl FROM dl),
         q AS (SELECT DISTINCT d.doc_id AS q_id, u.w
               FROM documents d,
                 unnest(list_slice(string_split(d.text, ' '), 1, 8)) AS u(w)
               WHERE d.doc_id % 50 = 0 AND u.w <> ''),
         scored AS (
           SELECT q.q_id, tf.doc_id,
             CAST(sum(
               (((2 * (s.n_docs - f.df) + 1) * 10000) // (2 * f.df + 1))
               * ((22 * (s.tl // s.n_docs) * tf.tf * 10000) //
                  (10 * (s.tl // s.n_docs) * tf.tf
                   + 3 * (s.tl // s.n_docs) + 9 * dl.dl))) AS BIGINT)
               AS score_x1e8
           FROM q
           JOIN dfreq f ON f.w = q.w
           JOIN tf ON tf.w = q.w
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN stats s
           WHERE f.df * 5 <= s.n_docs * 4 AND tf.doc_id <> q.q_id
           GROUP BY q.q_id, tf.doc_id),
         ranked AS (
           SELECT q_id, doc_id, score_x1e8,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_x1e8 DESC, doc_id) AS rk
           FROM scored)
         SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, score_x1e8
         FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  /** The st25 (streaming frozen-stats ingest) oracle: the t23 pipeline
    * with postings and doc lengths over ALL documents but df and the
    * corpus scalars computed over the BASE population only
    * (`doc_id % 3 != 0`) — the frozen-statistics segment-ingestion
    * contract replayed exactly (a delta-only term has no frozen df row
    * and drops out of the match in both engines). */
  private[graft] val Bm25FrozenStatsOracleSql: String =
    """WITH tk AS (
         SELECT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents) WHERE w <> ''),
       tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
              FROM tk GROUP BY doc_id, w),
       dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              FROM tf GROUP BY doc_id),
       dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
                 FROM tf WHERE doc_id % 3 <> 0 GROUP BY w),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS tl
                 FROM dl WHERE doc_id % 3 <> 0),
       q AS (SELECT DISTINCT d.doc_id AS q_id, u.w
             FROM documents d,
               unnest(list_slice(string_split(d.text, ' '), 1, 8)) AS u(w)
             WHERE d.doc_id % 50 = 0 AND u.w <> ''),
       scored AS (
         SELECT q.q_id, tf.doc_id,
           CAST(sum(
             (((2 * (s.n_docs - f.df) + 1) * 10000) // (2 * f.df + 1))
             * ((22 * (s.tl // s.n_docs) * tf.tf * 10000) //
                (10 * (s.tl // s.n_docs) * tf.tf
                 + 3 * (s.tl // s.n_docs) + 9 * dl.dl))) AS BIGINT)
             AS score_x1e8
         FROM q
         JOIN dfreq f ON f.w = q.w
         JOIN tf ON tf.w = q.w
         JOIN dl ON dl.doc_id = tf.doc_id
         CROSS JOIN stats s
         WHERE f.df * 5 <= s.n_docs * 4 AND tf.doc_id <> q.q_id
         GROUP BY q.q_id, tf.doc_id),
       ranked AS (
         SELECT q_id, doc_id, score_x1e8,
           row_number() OVER (
             PARTITION BY q_id ORDER BY score_x1e8 DESC, doc_id) AS rk
         FROM scored)
       SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, score_x1e8
       FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  def oracleSql: Map[String, String] = Map(
    "t23_bm25_retrieve" -> Bm25OracleSql,
    "t24_bm25_index_serve" -> Bm25OracleSql,
    // conditional-surprise replay: bigram counts, prefix counts summed
    // from the bigram table (split_part ≡ substring_index on space-free
    // tokens), integer reciprocal conditionals, integer per-doc mean
    "t25_bigram_surprise" ->
      """WITH bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS bigram
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
           WHERE len(ws) >= 2),
         c2 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c2
                FROM bg GROUP BY bigram),
         c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
                  CAST(sum(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         r AS (SELECT bg.doc_id,
                 least((c1.c1 * 10000) // c2.c2, 1000000000000) AS r
               FROM bg
               JOIN c2 USING (bigram)
               JOIN c1 ON c1.w1 = split_part(bg.bigram, ' ', 1))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(r) AS BIGINT) AS surprise_sum,
           CAST(sum(r) // count(*) AS BIGINT) AS surprise_x1e4
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    "t19_bpe_train" -> bpeTrainOracleSql(3),
    "t20_bpe_encode" -> bpeEncodeOracleSql(3),
    "d13_winnow_subset_pin" ->
      """SELECT CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id
         WHERE 1 = 0""",
    "t14_heavy_hitters_pin" ->
      """SELECT CAST(NULL AS VARCHAR) AS token WHERE 1 = 0""",
    // the two-level BPE recurrence replayed: pair count → argmax merge
    // (count desc, lexicographic ties) → greedy replace → recount;
    // replace() is greedy left-to-right non-overlapping in both engines
    "t18_bpe_merge_step" ->
      """WITH tk AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
                   FROM tk WHERE w <> '' GROUP BY w),
         sp1 AS (SELECT w, freq, unnest(range(1, length(w))) AS i
                 FROM vocab WHERE length(w) >= 2),
         p1 AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
                  CAST(sum(freq) AS BIGINT) AS pair_count
                FROM sp1 GROUP BY l, r),
         top1 AS (SELECT l AS m_l, r AS m_r FROM p1
                  ORDER BY pair_count DESC, l, r LIMIT 1),
         merged AS (SELECT replace(w, m_l || m_r, chr(57345)) AS w, freq
                    FROM vocab CROSS JOIN top1),
         sp2 AS (SELECT w, freq, unnest(range(1, length(w))) AS i
                 FROM merged WHERE length(w) >= 2),
         p2 AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r,
                  CAST(sum(freq) AS BIGINT) AS pair_count
                FROM sp2 GROUP BY l, r)
         SELECT
           CASE WHEN l = chr(57345) THEN (SELECT m_l || m_r FROM top1) ELSE l END AS pair_l,
           CASE WHEN r = chr(57345) THEN (SELECT m_l || m_r FROM top1) ELSE r END AS pair_r,
           pair_count
         FROM p2
         ORDER BY pair_count DESC, pair_l, pair_r LIMIT 10""",
    // the full CMS grid replayed in SQL: per-(row, bucket) sums over the
    // frequency table (count-weighted ≡ one increment per occurrence),
    // estimate = min over rows of the probe token's bucket sum; the
    // bucket arithmetic is the c01 hex-digit mirror with a row salt
    "t17_cms_estimates" -> cmsOracleSql(
      "SELECT unnest(string_split(text, ' ')) AS w FROM documents"),
    "t15_fingerprint_collision_pin" ->
      """SELECT CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id
         WHERE 1 = 0""",
    // DuckDB replays the winnowing selection exactly: same char
    // k-grams, same digests, min per w-window over ASCII hex, distinct
    "t22_winnow_md5" ->
      """WITH g AS (
           SELECT doc_id, list_transform(range(1, len(text) - 8 + 2),
             i -> md5(substring(text, CAST(i AS INTEGER), 8))) AS hs
           FROM documents WHERE doc_id % 4 = 0 AND len(text) >= 8),
         w2 AS (SELECT doc_id, hs, least(16, len(hs)) AS win FROM g),
         u AS (
           SELECT doc_id, unnest(list_transform(range(1, len(hs) - win + 2),
             j -> list_min(hs[CAST(j AS INTEGER):CAST(j + win - 1 AS INTEGER)])))
             AS fp
           FROM w2)
         SELECT DISTINCT doc_id, fp FROM u ORDER BY doc_id, fp""",
    // DuckDB replays d06's whole overlap pipeline over t22's sampled
    // md5 winnow: selection CTEs verbatim from t22, then the df-cap
    // filter, the inverted-index self-join, and the n_shared gate
    "d19_winnow_overlap_md5" ->
      """WITH g AS (
           SELECT doc_id, list_transform(range(1, len(text) - 8 + 2),
             i -> md5(substring(text, CAST(i AS INTEGER), 8))) AS hs
           FROM documents WHERE doc_id % 4 = 0 AND len(text) >= 8),
         w2 AS (SELECT doc_id, hs, least(16, len(hs)) AS win FROM g),
         u AS (
           SELECT doc_id, unnest(list_transform(range(1, len(hs) - win + 2),
             j -> list_min(hs[CAST(j AS INTEGER):CAST(j + win - 1 AS INTEGER)])))
             AS fp
           FROM w2),
         fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM u),
         rare AS (
           SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 20),
         kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY a_id, b_id HAVING count(*) >= 3
         ORDER BY a_id, b_id""",
    // the full value oracle the t04 family lacked: DuckDB replays the
    // md5 document digest and the word-3-shingle min over md5 hex
    // digests (ASCII hex, so both engines' string mins agree)
    "t21_fingerprint_md5" ->
      """WITH d AS (
           SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id, md5(text) AS fp_md5,
           list_min(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
             i -> md5(concat_ws(' ', w[i],
               w[least(i + 1, len(w))], w[least(i + 2, len(w))]))))
             AS min_shingle_md5
         FROM d ORDER BY doc_id""",
    "t12_token_rarity" ->
      """WITH tk AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tk2 AS (SELECT doc_id, w FROM tk WHERE w <> ''),
         freq AS (SELECT w, count(*) AS c FROM tk2 GROUP BY w),
         tot AS (SELECT count(*) AS t_total FROM tk2)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(tot.t_total // f.c) AS BIGINT) AS rarity_sum,
           CAST((sum(tot.t_total // f.c) * 10000) // count(*) AS BIGINT) AS rarity_x1e4
         FROM tk2 JOIN freq f USING (w), tot
         GROUP BY doc_id""",
    "t16_dup_ngram_rate" ->
      """WITH g AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
                              ws[i+4], ws[i+5], ws[i+6], ws[i+7]))) AS gram
             FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
             WHERE len(ws) >= 8)),
         f AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           CAST((sum(CASE WHEN f.gdf >= 2 THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT)
             AS dup_rate_x1e4
         FROM g JOIN f USING (gram)
         GROUP BY g.doc_id ORDER BY g.doc_id""",
    "t13_duplicate_spans" ->
      """WITH ws0 AS (
           SELECT doc_id, substring(text, 1, 20) AS blk, string_split(text, ' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, blk, i0 - 1 AS pos, gram FROM (
             SELECT doc_id, blk,
               unnest(generate_series(1, len(ws) - 4)) AS i0,
               unnest(list_transform(range(1, len(ws) - 3),
                 i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) AS gram
             FROM ws0 WHERE len(ws) >= 5)),
         al AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS i, b.pos - a.pos AS diag
           FROM g a JOIN g b
           ON a.blk = b.blk AND a.gram = b.gram AND a.doc_id < b.doc_id),
         runs AS (
           SELECT a_id, b_id, diag, grp,
             CAST(count(*) AS BIGINT) AS run_len, CAST(min(i) AS BIGINT) AS start_i
           FROM (SELECT a_id, b_id, diag, i,
                   i - row_number() OVER (PARTITION BY a_id, b_id, diag ORDER BY i) AS grp
                 FROM al)
           GROUP BY a_id, b_id, diag, grp),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY a_id, b_id ORDER BY run_len DESC, start_i, diag) AS rk
           FROM runs),
         tot AS (
           SELECT a_id, b_id, CAST(sum(run_len) AS BIGINT) AS n_align
           FROM runs GROUP BY a_id, b_id)
         SELECT t.a_id, t.b_id, t.n_align, r.run_len AS max_run,
           r.run_len + 4 AS max_span_words, r.start_i AS span_start_a
         FROM tot t JOIN ranked r ON r.a_id = t.a_id AND r.b_id = t.b_id AND r.rk = 1
         ORDER BY t.a_id, t.b_id""",
    "t08_tfidf_topterms" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE term <> '' GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df AS score
           FROM tf JOIN dfreq USING (term), n),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, term) AS rk
           FROM scored)
         SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score
         FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""",
    "t06_regex_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
         FROM documents ORDER BY doc_id""",
    "t01_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS len_chars,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len
         FROM documents ORDER BY doc_id""",
    "t02_lang_id" ->
      """SELECT lang,
         CASE WHEN regexp_matches(text, '\p{Han}') THEN 'zh'
              WHEN regexp_matches(text, '[\p{Hiragana}\p{Katakana}]') THEN 'ja'
              WHEN regexp_matches(text, '\p{Hangul}') THEN 'ko'
              WHEN regexp_matches(text, '\p{Cyrillic}') THEN 'ru'
              ELSE 'latin' END AS script_lang,
         count(*) AS n_docs
         FROM documents GROUP BY lang, script_lang ORDER BY lang, script_lang""",
    "t03_quality_score" ->
      """SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
         CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws) AS stopword_ratio,
         (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
           * (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws)) AS quality
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ORDER BY doc_id""",
    "t05_top_bigrams" ->
      """SELECT bigram, count(*) AS n FROM (
           SELECT unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS bigram
           FROM (SELECT string_split(text, ' ') AS ws FROM documents)
           WHERE len(ws) >= 2)
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",
    "t09_repetition_stats" ->
      """WITH grams AS (
           SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS gram
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
           WHERE len(ws) >= 2),
         counts AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
         ranked AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY c DESC, gram) AS rk FROM counts)
         SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_bigram_frac,
           max(CASE WHEN rk = 1 THEN gram END) AS top_bigram,
           CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top_n,
           CAST(max(CASE WHEN rk = 1 THEN c END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
         FROM ranked GROUP BY doc_id ORDER BY doc_id""",
    "t10_contamination" ->
      """WITH grams AS (
           SELECT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS gram
             FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             WHERE len(w) >= 4)
           GROUP BY doc_id, gram),
         eval_g  AS (SELECT doc_id AS eval_id,  gram FROM grams WHERE doc_id % 20 = 0),
         train_g AS (SELECT doc_id AS train_id, gram FROM grams WHERE doc_id % 20 <> 0)
         SELECT train_id,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
         FROM train_g JOIN eval_g USING (gram)
         GROUP BY train_id ORDER BY train_id""",
    "t11_temperature_mixture" ->
      """WITH n AS (SELECT count(*) AS n_total FROM documents),
         quota AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(round(40 * sqrt(CAST(count(*) AS DOUBLE) / n.n_total)) AS BIGINT) AS quota
           FROM documents, n GROUP BY lang, n.n_total),
         ranked AS (
           SELECT lang, doc_id, CAST(row_number() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
           FROM documents)
         SELECT r.lang, q.n_docs, q.quota, r.rk, r.doc_id
         FROM ranked r JOIN quota q USING (lang)
         WHERE r.rk <= q.quota
         ORDER BY r.lang, r.rk"""
  )
}
