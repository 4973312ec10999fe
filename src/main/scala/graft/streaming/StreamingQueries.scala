package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract entries that execute REAL Structured Streaming
  * queries (file source → watermark → stateful op → memory sink, run to
  * completion) and are then hash-checked against the same DuckDB oracles
  * as their batch twins — demonstrating batch/stream parity.
  */
object StreamingQueries {

  private val tsUs = "(epoch_ns(ts) // 1000)"

  /** Runs a row that writes its tables under a fresh temp root, and
    * materializes the result into the block manager before the root is
    * deleted — also when the run throws — so repeated verify/bench runs
    * never accumulate table dirs in java.io.tmpdir. */
  private def overTempRoot(prefix: String)(run: java.nio.file.Path => DataFrame): DataFrame =
    graft.TempDirs.withTempDir(prefix)(root => graft.operators.eagerCut(run(root)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st01_stream_tumbling" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st01_mem", "complete")(EventStreams.tumbling(_))
        .orderBy(col("w_start_us"), col("event_type"))),
    // the CMS grid accumulated UNDER the stream (state = one mergeable
    // grid row), read back with the shared estimate column against the
    // batch table's exact top-10 — the full-grid oracle then replays
    // both the sketch and the estimates in SQL (t17's pattern over the
    // event-token stream)
    "st20_stream_cms" -> ((s, d) => {
      val grid = EventStreams.runToBatch(s, d, "st20_mem", "complete")(
        EventStreams.cmsTokenSketch(_))
      val toks = graft.sources.Tables(s, d, "events")
        .select(concat(col("event_type"), lit(":"),
          (col("user_id") % 97).cast("string")).as("w"))
      graft.operators.TextAnalysis.cmsEstimatesFor(toks, grid)
    }),
    "st02_stream_sessions" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st02_mem", "complete")(EventStreams.sessionWindows(_))
        .orderBy(col("user_id"), col("session_start_us"))),
    // stream-static enrichment: events join a static dimension
    // (stateless, re-planned per batch) before the windowed rollup —
    // only the aggregate holds state (see EventStreams.staticEnrichRollup)
    "st18_stream_static_enrich" -> ((s, d) =>
      EventStreams.runBounded(s, "st18_mem",
        scoped => EventStreams.staticEnrichRollup(scoped, d), "complete")
        .orderBy(col("w_start_us"), col("segment"))),
    // the online retrieval-index lifecycle (see IndexLifecycle): a
    // query stream served against the persisted index, a stream of new
    // rows ingested under frozen statistics with a serve after every
    // commit, then compaction and a serve again — for the PQ index
    // (st21-st23, the batch s13/s17 oracles) and the BM25 index
    // (st24-st26, the t23 and frozen-stats oracles)
    "st21_stream_ann_serve" -> ((s, d) =>
      IndexLifecycle.serve(s, d, IndexLifecycle.Ann).orderBy(col("q_id"), col("rk"))),
    "st22_stream_ann_ingest" -> ((s, d) =>
      IndexLifecycle.ingest(s, d, IndexLifecycle.Ann).orderBy(col("q_id"), col("rk"))),
    "st23_stream_ann_compact_serve" -> ((s, d) =>
      IndexLifecycle.compactedServe(s, d, IndexLifecycle.Ann).orderBy(col("q_id"), col("rk"))),
    "st24_stream_bm25_serve" -> ((s, d) =>
      IndexLifecycle.serve(s, d, IndexLifecycle.Bm25).orderBy(col("q_id"), col("rk"))),
    "st25_stream_bm25_ingest" -> ((s, d) =>
      IndexLifecycle.ingest(s, d, IndexLifecycle.Bm25).orderBy(col("q_id"), col("rk"))),
    "st26_stream_bm25_compact_serve" -> ((s, d) =>
      IndexLifecycle.compactedServe(s, d, IndexLifecycle.Bm25).orderBy(col("q_id"), col("rk"))),
    // streaming quality monitor: windowed event-type mix + exact-integer
    // TVD numerator vs uniform (the v05 gate, online)
    "st17_stream_mix_drift" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st17_mem", "complete")(EventStreams.typeMixDrift(_))
        .orderBy(col("w_start_us"))),
    "st03_stream_dedup" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st03_mem", "append")(EventStreams.dedupKeyed(_))
        .select(col("user_id"), col("event_type")) // kept event_id is arrival-order-dependent
        .orderBy(col("user_id"), col("event_type"))),
    // dropDuplicatesWithinWatermark: first-sighting-anchored state
    // expiry (the retry-suppression dedup); same answer as st03 on a
    // bounded in-order replay, different (strictly per-key-bounded)
    // state contract on an unbounded stream
    "st09_stream_dedup_within_wm" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st09_mem", "append")(
        EventStreams.dedupWithinWatermark(_))
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))),
    "st04_stream_sliding" -> ((s, d) =>
      EventStreams.runToBatch(s, d, "st04_mem", "complete")(EventStreams.sliding(_))
        .orderBy(col("w_start_us"), col("event_type"))),
    // stream-stream joins hold BOTH sides' un-expired rows in the state
    // store (four stores per partition), so they run on RocksDB like the
    // sessionizers — the 100 TB default for every stateful query
    "st05_stream_interval_join" -> ((s, d) =>
      EventStreams.runBounded(s, "st05_mem",
        scoped => EventStreams.viewClickJoin(scoped, d), "append",
        extraConf = EventStreams.RocksDbConf)
        .orderBy(col("user_id"), col("view_id"), col("click_id"))),
    // foreachBatch parquet sink: each micro-batch overwrites the output
    // dir with the complete-mode snapshot; result read back from disk
    // (same semantics as st01, pinned by the same oracle)
    "st07_stream_sink_parquet" -> ((s, d) =>
      overTempRoot("graft_st07")(root =>
        EventStreams.runToParquet(s, d, root.resolve("agg").toString)(EventStreams.tumbling(_))
          .orderBy(col("w_start_us"), col("event_type")))),
    // stream-stream LEFT OUTER interval join: null-padded rows for
    // expired unmatched views emit in the trailing watermark-only batch
    // (noDataBatches = true); views inside the final watermark horizon
    // are held back (modeled by the oracle's eviction predicate)
    "st08_stream_left_outer_join" -> ((s, d) =>
      EventStreams.runBounded(s, "st08_mem",
        scoped => EventStreams.viewClickLeftJoin(scoped, d), "append",
        noDataBatches = true, extraConf = EventStreams.RocksDbConf)
        .orderBy(col("user_id"), col("view_id"), col("click_id"))),
    // state-v2 MapState: per-user per-type running counts — one RocksDB
    // entry per (user, type) slot, O(1) write amplification per event
    // (see TypeCountStream); final counts must equal the batch groupBy
    "st15_mapstate_type_counts" -> ((s, d) =>
      TypeCountStream.runFinalCounts(s, d)
        .orderBy(col("user_id"), col("event_type"))),
    // state-v2 ListState: last-3 events per user BY EVENT TIME (order
    // deterministic ⇒ batch-oracle-able; see RecentEventsStream)
    "st16_liststate_recent" -> ((s, d) =>
      RecentEventsStream.runFinalRecent(s, d).orderBy(col("user_id"))),
    // stream-stream FULL OUTER interval join: st08 plus null-view rows
    // for clicks whose whole 5-minute look-back fell behind the final
    // watermark (one-sided interval ⇒ asymmetric eviction predicates —
    // see EventStreams.viewClickFullJoin)
    "st14_stream_full_outer_join" -> ((s, d) =>
      EventStreams.runBounded(s, "st14_mem",
        scoped => EventStreams.viewClickFullJoin(scoped, d), "append",
        noDataBatches = true, extraConf = EventStreams.RocksDbConf)
        .orderBy(col("user_id"), col("view_id"), col("click_id"))),
    // streaming CDC apply: foreachBatch LWW merge into a parquet state
    // table; final state must equal the batch last-per-key answer under
    // any micro-batch partitioning of the input
    "st11_cdc_apply" -> ((s, d) =>
      overTempRoot("graft_st11")(root =>
        CdcApply.runCdcApply(s, d, root.resolve("state").toString).orderBy(col("user_id")))),
    // the st11 CDC loop onto the TRANSACTIONAL manifested table (r13):
    // per batch a tombstone retires the superseded keys and the merged
    // rows append — two CAS-guarded commits, periodic delete-compaction
    // under the live stream; same event-time-LWW oracle as st11 (the
    // state-table mechanism must be invisible in the result)
    "st27_stream_cdc_manifested" -> ((s, d) =>
      overTempRoot("graft_st27")(root =>
        CdcApply.runCdcApplyManifested(s, d, root.resolve("table").toString)
          .orderBy(col("user_id")))),
    // the CDC loop onto a SHARDED manifested root (r14/r16): state
    // hash-sharded into shard=<k> leaves, per-batch O(touched-shard)
    // upsertManifestedPartitioned commits + one root version map
    // under the batchId txn marker, per-leaf delete-compaction
    // (steady leaves skip) under the live stream; SAME
    // event-time-LWW oracle as st11/st27 — the third state mechanism
    // under one oracle text, so none of them can drift
    "st28_stream_cdc_sharded" -> ((s, d) =>
      overTempRoot("graft_st28")(root =>
        CdcApply.runCdcApplyManifestedPartitioned(s, d, root.resolve("table").toString)
          .orderBy(col("user_id")))),
    // the CDC loop over a feed carrying DELETES (r15): 'error' events
    // are the delete op; markers ride the stream (LWW keeps the
    // any-batch-partitioning invariance — a per-batch tombstone route
    // would let an out-of-order earlier upsert resurrect the key),
    // retire to the tombstone side at the sealed horizon, and the
    // final state is read UNFILTERED — physical removal is the
    // contract the oracle hashes
    "st29_stream_cdc_deletes" -> ((s, d) =>
      overTempRoot("graft_st29")(root =>
        CdcApply.runCdcApplyManifestedDeletes(s, d, root.resolve("table").toString,
          Set("error")).orderBy(col("user_id")))),
    // STREAMING change-feed consumption (r19 — Delta readChangeFeed's
    // streaming shape): the st27 writer maintains the source table
    // while a zero-lag consumer tails its manifest versions, reads
    // each window's NET changes via tableChanges, and replicates them
    // into an independent mirror under marker-gated exactly-once
    // commits; fold-crossing windows net to zero and commit nothing.
    // The mirror must equal the batch LWW answer — the FOURTH state
    // mechanism under the one CdcLwwOracleSql text
    "st30_stream_cdf_mirror" -> ((s, d) =>
      overTempRoot("graft_st30")(root =>
        ChangeFeedStream.runCdfMirror(s, d, root.resolve("src").toString,
          root.resolve("mirror").toString).orderBy(col("user_id")))),
    // the PARTITIONED feed consumer (r19): st28's sharded writer
    // maintains the source root; the consumer tails its ROOT versions
    // — initial sync by deep clone (replication's snapshot-then-tail
    // shape), then incremental windows through the partitioned row
    // ops, O(touched) at both ends. Fifth mechanism, same oracle
    "st31_stream_cdf_mirror_sharded" -> ((s, d) =>
      overTempRoot("graft_st31")(root =>
        ChangeFeedStream.runCdfMirrorPartitioned(s, d, root.resolve("src").toString,
          root.resolve("mirror").toString).orderBy(col("user_id")))),
    // Spark 4 transformWithState (state v2): ValueState running profile
    // on the RocksDB store, update mode; final profile per key must
    // equal the batch aggregate
    "st10_transform_with_state" -> ((s, d) =>
      ProfileStream.runFinalProfiles(s, d).orderBy(col("user_id"))),
    // state-v2 INITIAL STATE: the st10 profile bootstrapped from a
    // batch snapshot (even event_ids), only the odd tail streamed;
    // final profiles must equal the batch aggregate over ALL events —
    // bootstrap + stream ≡ batch (see BootstrapProfileStream)
    "st19_initial_state_bootstrap" -> ((s, d) =>
      BootstrapProfileStream.runFinalProfiles(s, d).orderBy(col("user_id"))),
    // custom keyed state under a real stream: flatMapGroupsWithState +
    // event-time timeout; needs the watermark-only trailing batch so
    // timed-out open sessions flush (noDataBatches = true). RocksDB
    // provider: the 100 TB default for keyed state (StreamingSpec
    // asserts the provider's metrics surface on the live query).
    "st06_stream_custom_sessions" -> ((s, d) =>
      EventStreams.runBounded(s, "st06_mem",
        scoped => StatefulSessionStream.sessionizeStream(
          EventStreams.readEventStream(scoped, d)).toDF(),
        "append", noDataBatches = true,
        extraConf = EventStreams.RocksDbConf)
        .orderBy(col("user_id"), col("session_seq"))),
    // non-associative fold (EWMA) under a real stream: buffered state,
    // fold only the watermark-sealed prefix (true event-time order by
    // construction); update-mode emissions reduced to the final row
    "st13_ordered_fold_ewma" -> ((s, d) =>
      EventStreams.runBounded(s, "st13_mem",
        scoped => OrderedFoldStream.ewmaStream(
          EventStreams.readEventStream(scoped, d)).toDF(),
        "update", noDataBatches = true)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_done"), col("ewma_q"))).as("p"))
        .select(col("user_id"), col("p.n_done").as("n_done"), col("p.ewma_q").as("ewma_q"))
        .orderBy(col("user_id"))),
    // the SAME sessionizer on the state-v2 API (transformWithState +
    // event-time timers + RocksDB): one emission contract, two state
    // machineries — st06's oracle pins both
    "st12_timer_sessions" -> ((s, d) =>
      EventStreams.runBounded(s, "st12_mem",
        scoped => TimerSessionStream.sessionizeStream(
          EventStreams.readEventStream(scoped, d)).toDF(),
        "append", noDataBatches = true,
        extraConf = EventStreams.RocksDbConf)
        .orderBy(col("user_id"), col("session_seq")))
  )

  private val CustomSessionsOracle =
    s"""WITH marked AS (
           SELECT user_id, event_id, value, $tsUs AS ts_us,
             CASE WHEN lag($tsUs, 1) OVER w IS NULL
               OR $tsUs - lag($tsUs, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY $tsUs, event_id)),
         sessions AS (
           SELECT user_id, value, ts_us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_seq
           FROM marked),
         agg AS (
           SELECT user_id, session_seq,
             min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM sessions GROUP BY user_id, session_seq),
         wm AS (SELECT (max($tsUs) // 1000) - 600000 AS wm_ms FROM events),
         lastseq AS (SELECT user_id, max(session_seq) AS last_seq FROM agg GROUP BY 1)
         SELECT a.user_id, a.session_seq, a.session_start_us,
           a.session_end_us, a.n_events, a.total_value
         FROM agg a JOIN lastseq l USING (user_id), wm
         WHERE a.session_seq < l.last_seq
            OR ((a.session_end_us + 1800000000 + 999) // 1000) < wm.wm_ms
         ORDER BY a.user_id, a.session_seq"""

  /** Event-time last-writer-wins per user — the CDC state contract
    * shared by st11 (dir-swap state), st27 (manifested state) and
    * st28 (sharded manifested state): ONE oracle text, so the three
    * mechanisms can never drift apart. */
  private val CdcLwwOracleSql =
    """WITH ev AS (
         SELECT user_id, (epoch_ns(ts) // 1000) AS ts_us, event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_q
         FROM events),
       r AS (
         SELECT *, row_number() OVER (
           PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk
         FROM ev)
       SELECT user_id, ts_us, event_id, event_type, value_q
       FROM r WHERE rk = 1 ORDER BY user_id"""

  def oracleSql: Map[String, String] = Map(
    // the streamed serve answers to the SAME oracle as the batch ADC
    // top-k (s13) — persistence AND micro-batched arrival must both be
    // invisible to results
    "st21_stream_ann_serve" ->
      graft.operators.Similarity.oracleSql("s13_pq_adc_topk"),
    // the streamed ingest answers to the batch s17 oracle — batching of
    // the delta arrival (and the manifested commit protocol) must be
    // invisible to the final served answer
    "st22_stream_ann_ingest" ->
      graft.operators.Similarity.oracleSql("s17_index_upsert"),
    // compaction of the manifested codes table must not change a
    // single served row — the same s17 oracle pins it at value level
    "st23_stream_ann_compact_serve" ->
      graft.operators.Similarity.oracleSql("s17_index_upsert"),
    // the streamed BM25 serve answers to the same oracle as the batch
    // retrieval (t23) and the batch index serve (t24) — micro-batched
    // query arrival and index persistence both invisible to results
    "st24_stream_bm25_serve" ->
      graft.operators.TextAnalysis.oracleSql("t23_bm25_retrieve"),
    // the streamed ingest answers to the frozen-stats t23 variant:
    // postings/doclens over ALL docs, df + corpus scalars over the
    // base population only — batching, the manifest protocol, and
    // stats freezing each provably behave as documented
    "st25_stream_bm25_ingest" ->
      graft.operators.TextAnalysis.Bm25FrozenStatsOracleSql,
    // compaction of the manifested postings/doclens tables must not
    // change a single served row — the same frozen-stats oracle
    "st26_stream_bm25_compact_serve" ->
      graft.operators.TextAnalysis.Bm25FrozenStatsOracleSql,
    // the t17 grid-rebuild oracle over the event-token stream: per-
    // (row, bucket) sums from the frequency table ≡ the streamed grid
    // (addition commutes across micro-batches), estimates = min over
    // rows — the whole streaming sketch replayed in SQL
    "st20_stream_cms" -> graft.operators.TextAnalysis.cmsOracleSql(
      "SELECT event_type || ':' || CAST(user_id % 97 AS VARCHAR) AS w FROM events"),
    // identical semantics to st01/e01 (same oracle text)
    "st07_stream_sink_parquet" ->
      s"""SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, make_timestamp($tsUs))) AS w_start_us,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY w_start_us, event_type
         ORDER BY w_start_us, event_type""",
    // identical semantics to batch e01 (same oracle)
    "st01_stream_tumbling" ->
      s"""SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, make_timestamp($tsUs))) AS w_start_us,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY w_start_us, event_type
         ORDER BY w_start_us, event_type""",
    // session_window end = last event + gap (Spark semantics)
    "st02_stream_sessions" ->
      s"""WITH marked AS (
           SELECT user_id, event_id, value, $tsUs AS ts_us,
             CASE WHEN lag($tsUs, 1) OVER w IS NULL
               OR $tsUs - lag($tsUs, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY $tsUs, event_id)),
         sessions AS (
           SELECT user_id, value, ts_us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM marked)
         SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) + 1800000000 AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM sessions GROUP BY user_id, session_seq
         ORDER BY user_id, session_start_us""",
    "st03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // e06's fold restricted to the watermark-sealed prefix: events with
    // ts_ms < (max ts_ms − 10 min) fold in (ts, event_id) order; the
    // trailing horizon stays unfolded (users with nothing sealed absent)
    "st13_ordered_fold_ewma" ->
      """WITH ev AS (
           SELECT user_id, (epoch_ns(ts) // 1000) AS ts_us, event_id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
           FROM events),
         wm AS (SELECT max(ts_us // 1000) - 600000 AS wm_ms FROM ev),
         sealed AS (
           SELECT user_id, ts_us, event_id, vq FROM ev, wm
           WHERE ts_us // 1000 < wm.wm_ms),
         agg AS (
           SELECT user_id, list(vq ORDER BY ts_us, event_id) AS seq
           FROM sealed GROUP BY user_id)
         SELECT user_id, CAST(len(seq) AS BIGINT) AS n_done,
           list_reduce(seq, (s, x) -> (85 * s + 15 * x) // 100) AS ewma_q
         FROM agg ORDER BY user_id""",
    "st11_cdc_apply" -> CdcLwwOracleSql,
    // the LWW oracle restricted to keys whose winner is NOT a delete:
    // delete-wins keys vanish (retired markers), a later-ts re-upsert
    // re-inserts — the delete extension of the shared CDC contract
    "st29_stream_cdc_deletes" ->
      """WITH ev AS (
           SELECT user_id, (epoch_ns(ts) // 1000) AS ts_us, event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_q
           FROM events),
         r AS (
           SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk
           FROM ev)
         SELECT user_id, ts_us, event_id, event_type, value_q
         FROM r WHERE rk = 1 AND event_type <> 'error' ORDER BY user_id""",
    // identical oracle to st11 BY DESIGN: the manifested state table
    // (tombstone+append commits, mid-stream compaction) must produce
    // the same event-time-LWW answer as the dir-swap state table
    "st27_stream_cdc_manifested" -> CdcLwwOracleSql,
    "st28_stream_cdc_sharded" -> CdcLwwOracleSql,
    // identical oracle again BY DESIGN: a mirror maintained purely
    // from the change feed must converge to the table it follows
    "st30_stream_cdf_mirror" -> CdcLwwOracleSql,
    "st31_stream_cdf_mirror_sharded" -> CdcLwwOracleSql,
    "st10_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS value_q
         FROM events GROUP BY user_id
         ORDER BY user_id""",
    // the SAME aggregate as st10 — over all events, both halves: the
    // snapshot half must arrive via handleInitialState, the tail via
    // the stream, and the composition must be invisible in the result
    "st19_initial_state_bootstrap" ->
      """SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS value_q
         FROM events GROUP BY user_id
         ORDER BY user_id""",
    "st09_stream_dedup_within_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "st05_stream_interval_join" ->
      s"""SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
         (epoch_ns(c.ts) // 1000) - (epoch_ns(v.ts) // 1000) AS lag_us
         FROM events v JOIN events c
         ON v.user_id = c.user_id
           AND v.event_type = 'view' AND c.event_type = 'click'
           AND (epoch_ns(c.ts) // 1000) >= (epoch_ns(v.ts) // 1000)
           AND (epoch_ns(c.ts) // 1000) <= (epoch_ns(v.ts) // 1000) + 300000000
         ORDER BY v.user_id, view_id, click_id""",
    // e05's sessions minus the bounded-replay holdback: a user's LAST
    // session emits only if the final watermark (max ts - 10 min, in ms)
    // passed its end + gap — exactly the event-time-timeout contract
    "st06_stream_custom_sessions" ->
      CustomSessionsOracle,
    "st12_timer_sessions" -> CustomSessionsOracle,
    // st05's inner pairs plus watermark-expired unmatched views with
    // null clicks. The global watermark is the MIN over the two
    // watermark nodes (views' max ts, clicks' max ts — NOT the overall
    // events max: each side's watermark tracks only its own filtered
    // stream), in ms; an unmatched view emits iff its join window is
    // strictly behind it (v_ts + 5min < wm — the state-eviction
    // predicate: no click at ts >= wm can still match it)
    "st08_stream_left_outer_join" ->
      s"""WITH wm AS (SELECT least(
           (SELECT max($tsUs) // 1000 FROM events WHERE event_type = 'view'),
           (SELECT max($tsUs) // 1000 FROM events WHERE event_type = 'click'))
           - 600000 AS wm_ms),
         matched AS (
           SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
             (epoch_ns(c.ts) // 1000) - (epoch_ns(v.ts) // 1000) AS lag_us
           FROM events v JOIN events c
           ON v.user_id = c.user_id
             AND v.event_type = 'view' AND c.event_type = 'click'
             AND (epoch_ns(c.ts) // 1000) >= (epoch_ns(v.ts) // 1000)
             AND (epoch_ns(c.ts) // 1000) <= (epoch_ns(v.ts) // 1000) + 300000000),
         unmatched AS (
           SELECT v.user_id, v.event_id AS view_id,
             CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS lag_us
           FROM events v, wm
           WHERE v.event_type = 'view'
             AND NOT EXISTS (SELECT 1 FROM events c
               WHERE c.event_type = 'click' AND c.user_id = v.user_id
                 AND (epoch_ns(c.ts) // 1000)
                   BETWEEN (epoch_ns(v.ts) // 1000)
                       AND (epoch_ns(v.ts) // 1000) + 300000000)
             AND (epoch_ns(v.ts) // 1000) + 300000000 < wm.wm_ms * 1000)
         SELECT * FROM matched
         UNION ALL SELECT * FROM unmatched
         ORDER BY user_id, view_id, click_id""",
    "st15_mapstate_type_counts" ->
      """SELECT user_id, event_type, count(*) AS n_events
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    "st18_stream_static_enrich" ->
      s"""SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, make_timestamp($tsUs))) AS w_start_us,
           c_mktsegment AS segment, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY w_start_us, segment ORDER BY w_start_us, segment""",
    // n_total = the five counters' sum (not count(*)) so the oracle and
    // the stream agree even if a sixth type ever appeared
    "st17_stream_mix_drift" ->
      s"""WITH w AS (
           SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, make_timestamp($tsUs))) AS w_start_us,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
           FROM events GROUP BY w_start_us)
         SELECT w_start_us, n_click, n_error, n_purchase, n_signup, n_view,
           n_click + n_error + n_purchase + n_signup + n_view AS n_total,
           abs(5 * n_click - (n_click + n_error + n_purchase + n_signup + n_view))
           + abs(5 * n_error - (n_click + n_error + n_purchase + n_signup + n_view))
           + abs(5 * n_purchase - (n_click + n_error + n_purchase + n_signup + n_view))
           + abs(5 * n_signup - (n_click + n_error + n_purchase + n_signup + n_view))
           + abs(5 * n_view - (n_click + n_error + n_purchase + n_signup + n_view)) AS drift_num
         FROM w ORDER BY w_start_us""",
    "st16_liststate_recent" ->
      s"""WITH r AS (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY $tsUs DESC, event_id DESC) AS rk
           FROM events),
         n AS (SELECT user_id, count(*) AS n_seen FROM events GROUP BY user_id)
         SELECT n.user_id, n.n_seen,
           max(CASE WHEN rk = 1 THEN event_id END) AS e1,
           max(CASE WHEN rk = 2 THEN event_id END) AS e2,
           max(CASE WHEN rk = 3 THEN event_id END) AS e3
         FROM n JOIN r USING (user_id) WHERE rk <= 3
         GROUP BY n.user_id, n.n_seen
         ORDER BY n.user_id""",
    // st08's rows plus null-view rows for unmatched clicks. The click
    // eviction predicate is c_ts < wm (NOT c_ts + 5min < wm): the
    // interval is one-sided — a click looks BACK at views in
    // [c_ts − 5min, c_ts], and future views are promised to arrive at
    // v_ts ≥ wm, so the click is provably unmatched as soon as its own
    // timestamp is behind the watermark.
    "st14_stream_full_outer_join" ->
      s"""WITH wm AS (SELECT least(
           (SELECT max($tsUs) // 1000 FROM events WHERE event_type = 'view'),
           (SELECT max($tsUs) // 1000 FROM events WHERE event_type = 'click'))
           - 600000 AS wm_ms),
         matched AS (
           SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
             (epoch_ns(c.ts) // 1000) - (epoch_ns(v.ts) // 1000) AS lag_us
           FROM events v JOIN events c
           ON v.user_id = c.user_id
             AND v.event_type = 'view' AND c.event_type = 'click'
             AND (epoch_ns(c.ts) // 1000) >= (epoch_ns(v.ts) // 1000)
             AND (epoch_ns(c.ts) // 1000) <= (epoch_ns(v.ts) // 1000) + 300000000),
         unmatched_v AS (
           SELECT v.user_id, v.event_id AS view_id,
             CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS lag_us
           FROM events v, wm
           WHERE v.event_type = 'view'
             AND NOT EXISTS (SELECT 1 FROM events c
               WHERE c.event_type = 'click' AND c.user_id = v.user_id
                 AND (epoch_ns(c.ts) // 1000)
                   BETWEEN (epoch_ns(v.ts) // 1000)
                       AND (epoch_ns(v.ts) // 1000) + 300000000)
             AND (epoch_ns(v.ts) // 1000) + 300000000 < wm.wm_ms * 1000),
         unmatched_c AS (
           SELECT c.user_id, CAST(NULL AS BIGINT) AS view_id,
             c.event_id AS click_id, CAST(NULL AS BIGINT) AS lag_us
           FROM events c, wm
           WHERE c.event_type = 'click'
             AND NOT EXISTS (SELECT 1 FROM events v
               WHERE v.event_type = 'view' AND v.user_id = c.user_id
                 AND (epoch_ns(c.ts) // 1000)
                   BETWEEN (epoch_ns(v.ts) // 1000)
                       AND (epoch_ns(v.ts) // 1000) + 300000000)
             AND (epoch_ns(c.ts) // 1000) < wm.wm_ms * 1000)
         SELECT * FROM matched
         UNION ALL SELECT * FROM unmatched_v
         UNION ALL SELECT * FROM unmatched_c
         ORDER BY user_id, view_id, click_id""",
    // identical semantics to batch e02 minus the value sum (count-only)
    "st04_stream_sliding" ->
      s"""WITH assigned AS (
           SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, make_timestamp($tsUs)))
             + offs AS w_start_us, event_type
           FROM events, (SELECT unnest([CAST(0 AS BIGINT), CAST(-300000000 AS BIGINT)]) AS offs))
         SELECT w_start_us, event_type, count(*) AS n_events
         FROM assigned GROUP BY w_start_us, event_type
         ORDER BY w_start_us, event_type"""
  )
}
