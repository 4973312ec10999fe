package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event/time-series operators in their batch form: tumbling / sliding
  * windows, gap-based sessionization, keyed dedup. The Structured
  * Streaming equivalents (watermarks, `session_window`, `dropDuplicates`
  * state) live in `graft.streaming.EventStreams`; these batch forms are
  * the DuckDB-oracle-checkable semantics they must agree with.
  *
  * Window starts are emitted as exact epoch microseconds (bigint) —
  * timestamps round-trip differently across engines, integers don't.
  */
object Events {

  /** Tumbling-window aggregate (Spark `window()`, epoch-aligned). */
  def tumbling(events: DataFrame, width: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding-window aggregate (each event lands in width/slide windows). */
  def sliding(events: DataFrame, width: String = "10 minutes", slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based sessionization (new session when idle > gap): the classic
    * lag + running-sum-of-boundaries formulation — one shuffle by user. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
  }

  /** Keyed dedup: first event per (user_id, event_type) by time. */
  def firstPerKey(events: DataFrame): DataFrame =
    topKPer(events, Seq(col("user_id"), col("event_type")),
        Seq(col("ts"), col("event_id")), 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))

  /** Fixed-point EWMA (α = 0.15) per user over the time-ordered event
    * series — the sequential-fold operator. A linear recurrence
    * `s' = (85·s + 15·x) div 100` can't be a window function (it isn't
    * associative), but BOTH engines express a left fold: Spark's
    * `aggregate` higher-order function over a sort_array'd struct list,
    * DuckDB's `list_reduce` over `list(... ORDER BY ...)`. Values are
    * decimal-quantized to int64 (×1e4) first so the fold is pure integer
    * arithmetic — bit-identical everywhere (Spark `div` = DuckDB `//`
    * on the non-negative domain; `value` ≥ 0 by schema contract).
    *
    * Scale: one shuffle on user_id; the per-key series materializes in
    * memory, which is the fold's inherent requirement — bounded here by
    * events-per-user, not corpus size. For unbounded keys the streaming
    * twin is `streaming.OrderedFoldStream` (st13): buffer-until-sealed
    * state folds the watermark-sealed prefix in true event-time order;
    * this batch shape is its oracle's core. */
  def ewmaPerUser(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000)
        .cast("long").as("vq"))
    ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("vq")))).as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        expr("element_at(seq, 1).vq").as("first_q"),
        expr("""aggregate(slice(seq, 2, size(seq) - 1), element_at(seq, 1).vq,
                          (s, x) -> (85 * s + 15 * x.vq) div 100)""").as("ewma_q"))
  }

  /** Funnel analysis (view → click → purchase): per user with at least
    * one view, the first view, the first click STRICTLY AFTER that view,
    * and the first purchase strictly after that click — the ordered-
    * sequence-match every product-analytics engine ships. One shuffle on
    * user_id, then three window passes over the SAME partitioning (the
    * later stages reference the earlier stages' per-user minima as
    * columns, so no re-shuffle and no self-join); users who never
    * reached a stage carry nulls from there on. */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val ev = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    ev
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("c_us",
        min(when(col("event_type") === "click" && col("ts_us") > col("v_us"),
          col("ts_us"))).over(w))
      .withColumn("p_us",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("c_us"),
          col("ts_us"))).over(w))
      .filter(col("v_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("v_us")).as("v_us"), min(col("c_us")).as("c_us"),
        min(col("p_us")).as("p_us"))
  }

  /** Time-bounded funnel — [[funnel]] with a conversion-window
    * constraint: each step counts only within `gapUs` of the step it
    * follows (the form product analytics actually ships — "purchased
    * within an hour of clicking", not "ever after"). Anchoring is
    * first-touch: the window chains off the user's FIRST view and the
    * first in-window click after it — deterministic, and the standard
    * first-touch attribution convention (a later view whose window
    * would have converted does not re-anchor). Same plan shape as e07:
    * one user shuffle, conditional-min windows, zero self-joins. */
  def timeBoundedFunnel(events: DataFrame,
                        gapUs: Long = 3600L * 1000000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val ev = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    ev
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("c_us",
        min(when(col("event_type") === "click" && col("ts_us") > col("v_us")
          && col("ts_us") <= col("v_us") + gapUs, col("ts_us"))).over(w))
      .withColumn("p_us",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("c_us")
          && col("ts_us") <= col("c_us") + gapUs, col("ts_us"))).over(w))
      .filter(col("v_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("v_us")).as("v_us"), min(col("c_us")).as("c_us"),
        min(col("p_us")).as("p_us"))
  }

  /** Retention cohorts: users grouped by the epoch-aligned 7-day bucket
    * of their FIRST event; for each cohort × week-offset, how many of
    * its users were active that week. Integer microsecond bucketing —
    * no calendar arithmetic crosses an engine boundary. Two user-keyed
    * aggregations plus one (user, offset) distinct; every stage is
    * map-side combinable and nothing exceeds one shuffle width. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val wkUs = 7L * 86400L * 1000000L
    val ev = events.select(col("user_id"),
      (unix_micros(col("ts")) - (unix_micros(col("ts")) % wkUs)).as("wk_us"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk_us")).as("cohort_us"))
    ev.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_us"),
        // integer `div`, not `/`: the quotient is always an exact
        // multiple so double division happens to be exact today, but
        // the integer form keeps the arithmetic engine-identical by
        // construction (same operator DuckDB's // uses)
        expr(s"(wk_us - cohort_us) div ${wkUs}L").as("week_offset"))
      .distinct()
      .groupBy(col("cohort_us"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Event-type transition counts — the Markov-chain kernel under path
    * analysis / next-event prediction: per user, events in (ts,
    * event_id) order, each consecutive (prev → next) type pair counted
    * corpus-wide. One user-keyed shuffle for the lag window, then a
    * map-side-combinable pair count — the e-family shuffle discipline
    * (the transition matrix is |types|² rows however large the log). */
  def transitionCounts(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e09_transition_counts" -> ((s, d) =>
      transitionCounts(t(s, d, "events"))
        .orderBy(col("prev_type"), col("next_type"))),
    "e06_ewma" -> ((s, d) => ewmaPerUser(t(s, d, "events")).orderBy(col("user_id"))),
    "e07_funnel" -> ((s, d) => funnel(t(s, d, "events")).orderBy(col("user_id"))),
    "e10_timebound_funnel" -> ((s, d) =>
      timeBoundedFunnel(t(s, d, "events")).orderBy(col("user_id"))),
    "e08_retention_cohorts" -> ((s, d) =>
      retentionCohorts(t(s, d, "events"))
        .orderBy(col("cohort_us"), col("week_offset"))),
    "e01_tumbling_window" -> ((s, d) =>
      tumbling(t(s, d, "events")).orderBy(col("w_start_us"), col("event_type"))),
    "e02_sliding_window" -> ((s, d) =>
      sliding(t(s, d, "events")).orderBy(col("w_start_us"), col("event_type"))),
    "e03_sessionize" -> ((s, d) =>
      sessionize(t(s, d, "events")).orderBy(col("user_id"), col("session_seq"))),
    "e04_first_per_key" -> ((s, d) =>
      firstPerKey(t(s, d, "events")).orderBy(col("user_id"), col("event_type")))
  )

  // DuckDB mirrors: ts is TIMESTAMP_NS there; truncate to micros first so
  // both engines window/compare identical integer microsecond values.
  private val tsUs = "(epoch_ns(ts) // 1000)"

  def oracleSql: Map[String, String] = Map(
    "e09_transition_counts" ->
      s"""WITH ev AS (
           SELECT user_id, event_id, event_type, $tsUs AS ts_us FROM events),
         tr AS (
           SELECT event_type, lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
           FROM ev)
         SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
         FROM tr WHERE prev_type IS NOT NULL
         GROUP BY prev_type, next_type
         ORDER BY prev_type, next_type""",
    "e07_funnel" ->
      s"""WITH v AS (
           SELECT user_id, min($tsUs) AS v_us FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (
           SELECT e.user_id, min($tsUs) AS c_us
           FROM events e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND $tsUs > v.v_us
           GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, min($tsUs) AS p_us
           FROM events e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND $tsUs > c.c_us
           GROUP BY e.user_id)
         SELECT v.user_id, v.v_us, c.c_us, p.p_us
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY v.user_id""",
    // e07's chain with the 1-hour (3.6e9 µs) conversion window on each
    // inter-step gap; first-touch anchoring as documented on the op
    "e10_timebound_funnel" ->
      s"""WITH v AS (
           SELECT user_id, min($tsUs) AS v_us FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (
           SELECT e.user_id, min($tsUs) AS c_us
           FROM events e JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND $tsUs > v.v_us
             AND $tsUs <= v.v_us + 3600000000
           GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, min($tsUs) AS p_us
           FROM events e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND $tsUs > c.c_us
             AND $tsUs <= c.c_us + 3600000000
           GROUP BY e.user_id)
         SELECT v.user_id, v.v_us, c.c_us, p.p_us
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY v.user_id""",
    "e08_retention_cohorts" ->
      s"""WITH ev AS (
           SELECT user_id,
             $tsUs - ($tsUs % 604800000000) AS wk_us
           FROM events),
         cohort AS (
           SELECT user_id, min(wk_us) AS cohort_us FROM ev GROUP BY user_id),
         act AS (
           SELECT DISTINCT ev.user_id, cohort.cohort_us,
             (ev.wk_us - cohort.cohort_us) // 604800000000 AS week_offset
           FROM ev JOIN cohort USING (user_id))
         SELECT cohort_us, week_offset, count(*) AS n_users
         FROM act GROUP BY cohort_us, week_offset
         ORDER BY cohort_us, week_offset""",
    "e06_ewma" ->
      s"""WITH ev AS (
           SELECT user_id, $tsUs AS ts_us, event_id,
                  CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
           FROM events),
         agg AS (
           SELECT user_id, list(vq ORDER BY ts_us, event_id) AS seq
           FROM ev GROUP BY user_id)
         SELECT user_id, CAST(len(seq) AS BIGINT) AS n_events,
                seq[1] AS first_q,
                list_reduce(seq, (s, x) -> (85 * s + 15 * x) // 100) AS ewma_q
         FROM agg""",
    "e01_tumbling_window" ->
      s"""SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, make_timestamp($tsUs))) AS w_start_us,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY w_start_us, event_type
         ORDER BY w_start_us, event_type""",
    "e02_sliding_window" ->
      s"""WITH assigned AS (
           SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, make_timestamp($tsUs)))
             + offs AS w_start_us, event_type, value
           FROM events, (SELECT unnest([CAST(0 AS BIGINT), CAST(-300000000 AS BIGINT)]) AS offs))
         SELECT w_start_us, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM assigned GROUP BY w_start_us, event_type
         ORDER BY w_start_us, event_type""",
    "e03_sessionize" ->
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
         SELECT user_id, session_seq,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM sessions GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "e04_first_per_key" ->
      s"""SELECT user_id, event_type, event_id, ts_us FROM (
           SELECT user_id, event_type, event_id, $tsUs AS ts_us,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY $tsUs, event_id) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type"""
  )
}
