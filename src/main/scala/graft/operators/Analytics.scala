package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Second-wave relational catalog: deterministic mode, exact
  * correlation/covariance from decimal moments, unpivot/melt,
  * time-range window frames, calendar gap-fill, blocked fuzzy
  * (edit-distance) joins, and positional explode (UDTF surface).
  *
  * The reference (`OMTZHModifier.java`) has no analytics surface at all
  * (SURVEY.md §2.4-2.6 — three aggregate calls, no windows); these are
  * the standard analytics operators a user of a general engine expects,
  * so they complete the catalog alongside `Relational`.
  *
  * Scale notes (100 TB): every query is one declarative plan. The mode
  * and gap-fill queries aggregate BEFORE any window/join, so the heavy
  * input collapses map-side; the fuzzy join never goes quadratic — it
  * equi-joins on a (brand, first-token) blocking key, the standard
  * entity-resolution trick that turns O(n²) edit-distance comparison
  * into balanced per-block work; the range-frame window shuffles once
  * on its partition key, identical to any other window.
  */
object Analytics {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    dfQueries ++ sqlQueries

  private val dfQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deterministic mode per group: most frequent value, ties
    //      broken lexicographically (built-in `mode` is tie-unstable
    //      across engines, so the engine exposes this two-level form:
    //      count-aggregate — map-side combinable — then a 1-row-per-group
    //      window rank over the tiny count table)
    "q36_mode_per_group" -> ((s, d) => {
      val counts = t(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      topKPer(counts, Seq(col("o_orderstatus")),
          Seq(col("cnt").desc, col("o_orderpriority")), 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt").as("mode_count"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- correlation / covariance / stddev from exact decimal moments
    //      (built-in corr() is float-summation-order dependent and can't
    //      hash-compare across engines; decimal S1/S2/Sxy moments are
    //      exact and map-side combinable, the closed forms below are
    //      then bit-identical IEEE arithmetic on both engines)
    "q37_corr_stats" -> ((s, d) => {
      val nd = col("n").cast("double")
      // Quantize each RAW column to decimal first (double spacing at
      // column magnitude is far finer than 1e-4, so both engines pick
      // the same nearest decimal), then multiply in exact decimal
      // arithmetic — casting the double PRODUCT would round a long
      // binary tail and engines disagree in the last decimal digit.
      val dx = col("l_quantity").cast(DecimalType(15, 4))
      val dy = col("l_extendedprice").cast(DecimalType(15, 4))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sx"),
          dsum(col("l_extendedprice")).as("sy"),
          sum(dx * dx).cast("double").as("sxx"),
          sum(dy * dy).cast("double").as("syy"),
          sum(dx * dy).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // moments above ~15 significant digits convert decimal→double
          // with ±1 ulp engine skew (int128/1e8 double-rounding vs exact
          // rational conversion), so the final statistics are rounded a
          // few digits below that noise floor to hash-compare exactly
          round((nd * col("sxy") - col("sx") * col("sy")) / (nd * nd), 4).as("covar_pop"),
          round((nd * col("sxy") - col("sx") * col("sy")) /
            sqrt((nd * col("sxx") - col("sx") * col("sx")) *
                 (nd * col("syy") - col("sy") * col("sy"))), 9).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- unpivot/melt: wide aggregate -> long (metric, value) rows
    "q38_unpivot_metrics" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).cast("double").as("n_orders"),
          dsum(col("o_totalprice")).as("sum_rev"),
          max(col("o_totalprice")).as("max_rev"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("n_orders"), col("sum_rev"), col("max_rev")),
          "metric", "value")
        .orderBy(col("o_orderpriority"), col("metric"))
    }),

    // ---- PIVOT: long -> wide, one column per pivoted status value.
    //      The explicit value list matters at scale: without it Spark
    //      runs a driver-side distinct over the pivot column first —
    //      an extra job over the fact table (and nondeterministic
    //      column order); with it the pivot is ONE pass
    "q65_pivot_status" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("O").as("n_open"),
          col("F").as("n_filled"), col("P").as("n_pending"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- NTILE within groups: per-priority price quartiles, then one
    //      row per (priority, quartile). partitionBy keeps the window a
    //      keyed shuffle (a GLOBAL ntile would collapse to a single
    //      partition — the named scale-killer); the (price, key) order
    //      is total, so tile edges are engine-identical
    "q66_ntile_quartiles" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("q", ntile(4).over(w).cast("long"))
        .groupBy(col("o_orderpriority"), col("q"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("o_orderpriority"), col("q"))
    }),

    // ---- percent_rank / cume_dist: relative standing of each supplier
    //      balance inside its nation — both are exact rational functions
    //      of (rank, n) over a total order, so cross-engine-identical;
    //      rounded 9 dp only to absorb double formatting, not value skew
    "q67_relative_standing" -> ((s, d) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      t(s, d, "supplier")
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
        .withColumn("pr", round(percent_rank().over(w), 9))
        .withColumn("cd", round(cume_dist().over(w), 9))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    }),

    // ---- event-time RANGE window frame: per user, trailing-5-minute
    //      event count + exact decimal value sum at every event
    "q39_trailing_range_window" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-300000000L, 0L)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_5min"),
          sum(col("value").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("sum_5min"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // ---- calendar gap-fill: zero rows for days with no orders
    //      (aggregate first — the day spine is generated from the tiny
    //      1-row span aggregate, never from the fact table)
    // ---- linear interpolation over a gap-filled per-user day series:
    //      q40 zero-fills; this reconstructs missing days from the
    //      surrounding observations — the time-series imputation step a
    //      feature pipeline runs before a model ever sees the gaps.
    //      ALL integer arithmetic: values decimal-quantized to int64
    //      (vq = value·1e4), interpolation by truncating `div` (both
    //      engines truncate toward zero), days as epoch-day longs — no
    //      float crosses an engine boundary. One user-keyed shuffle;
    //      the spine explodes from a 2-column span aggregate and the
    //      carry windows ride the same partitioning.
    "q62_linear_interpolate" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
      val wNext = w.rowsBetween(0, Window.unboundedFollowing)
      val ev = t(s, d, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vq"))
      val obs = ev.groupBy(col("user_id"), col("day")).agg(sum(col("vq")).as("vq"))
      val spine = obs.groupBy(col("user_id"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(obs, Seq("user_id", "day"), "left")
        .withColumn("pd", last(when(col("vq").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
        .withColumn("pv", last(col("vq"), ignoreNulls = true).over(wPrev))
        .withColumn("nd", first(when(col("vq").isNotNull, col("day")), ignoreNulls = true).over(wNext))
        .withColumn("nv", first(col("vq"), ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("day"),
          when(col("vq").isNotNull, col("vq")).otherwise(
            col("pv") + expr("((nv - pv) * (day - pd)) div (nd - pd)")).as("vq_interp"),
          col("vq").isNotNull.as("observed"))
        .orderBy(col("user_id"), col("day"))
    }),

    "q40_calendar_gapfill" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
      // span straight off the fact table, NOT off `daily` — deriving it
      // from `daily` re-runs the whole groupBy exchange a second time
      // (column pruning makes the two subtrees differ, so ReuseExchange
      // can't dedup them); this branch prunes to the single date column
      val days = t(s, d, "orders")
        .agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      days.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0.0)).as("revenue"))
        .orderBy(col("day"))
    }),

    // ---- blocked fuzzy join: edit-distance pairs inside a
    //      (brand, first-two-name-tokens) block — equi-join on the
    //      blocking key, Levenshtein only within blocks (two tokens, not
    //      one: first tokens alone have ~8 distinct values here, leaving
    //      ~1M in-block pairs at sf0.1; the second token multiplies the
    //      block count and divides the quadratic term accordingly)
    "q41_fuzzy_block_join" -> ((s, d) => {
      val p = t(s, d, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_name"),
          concat_ws(" ",
            split(col("p_name"), " ").getItem(0),
            split(col("p_name"), " ").getItem(1)).as("tok0"))
      val a = p.toDF("p_brand", "a_key", "a_name", "tok0")
      val b = p.toDF("p_brand", "b_key", "b_name", "tok0")
      a.join(b, Seq("p_brand", "tok0"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
        .filter(col("dist") <= 10)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_close_pairs"), min(col("dist")).as("min_dist"))
        .orderBy(col("p_brand"))
    }),

    // ---- multiple exact DISTINCT aggregates in one pass (Expand-based
    //      plan: each distinct column gets its own dedup stream, partial
    //      aggregation still applies)
    "q44_multi_distinct" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(to_date(col("o_orderdate"))).as("n_days"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- deterministic stratified sample: fixed k per stratum by hash
    //      order (reproducible across runs/engines, no RNG)
    "q43_stratified_sample" -> ((s, d) =>
      topKPer(t(s, d, "customer").select(col("c_mktsegment"), col("c_custkey"), col("c_name")),
          Seq(col("c_mktsegment")),
          Seq(md5(col("c_name").cast("binary")), col("c_custkey")), 5)
        .select(col("c_mktsegment"), col("c_custkey"), col("rk"))
        .orderBy(col("c_mktsegment"), col("rk"))),

    // ---- fixed-width histogram: bucket index from literal bounds
    //      (floor of identical IEEE double ops on both engines —
    //      data-derived bounds would need the two-pass span pattern
    //      of q40); exact counts, map-side combinable
    "q45_histogram" -> ((s, d) => {
      t(s, d, "orders")
        .select((floor(col("o_totalprice") / 25000.0)).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("bucket"))
    }),

    // ---- multiset set operations (EXCEPT ALL / INTERSECT ALL keep
    //      duplicate multiplicity — Spark plans them as replicated
    //      counting, not a distinct shuffle); aggregated so the output
    //      is deterministic
    "q49_setops_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      val big = o.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      big.exceptAll(urgent).withColumn("op", lit("except_all"))
        .unionAll(big.intersectAll(urgent).withColumn("op", lit("intersect_all")))
        .groupBy(col("op"), col("o_custkey"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("op"), col("o_custkey"))
    }),

    // ---- TPC-H Q3 shape (shipping priority): selective dimension
    //      filter broadcast into a fact-fact shuffle join, decimal-exact
    //      revenue, TakeOrdered top-10 (never a full sort)
    "q50_shipping_priority" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- positional explode (UDTF surface): one row per token with
    //      its ordinal
    "q42_posexplode_tokens" -> ((s, d) => {
      t(s, d, "part")
        .filter(col("p_partkey") < 200)
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"),
          col("col").as("word"))
        .orderBy(col("p_partkey"), col("pos"))
    }),

    // ---- exact per-group median over QUANTIZED values: value → exact
    //      decimal → int64 (the st10/st13 quantization), so the even-n
    //      midpoint interpolation is integer arithmetic in a double —
    //      exactly representable, hence engine-identical. A raw-double
    //      median would hinge on each engine's interpolation expression
    //      rounding (lo + 0.5*(hi-lo) vs (lo+hi)/2 differ in the last
    //      ulp). Sort-based exact percentile: one shuffle on the group
    //      key; the approx t-digest/KLL sketch is the 100 TB path when
    //      the group is the whole table.
    "q59_group_median" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("vq"))
        .groupBy(col("event_type"))
        .agg(median(col("vq")).as("median_vq"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),
    // ---- robust outlier gate: per-group median absolute deviation
    //      (the robust spread measure a data-quality gate uses where
    //      stddev would be dragged by the very outliers it hunts).
    //      Everything rides the q59 quantization: medians are doubled
    //      (2·median of int64s is an exactly-representable integer-
    //      valued double even after midpoint interpolation), deviations
    //      cast back to int64 exactly, and the 5·MAD outlier compare is
    //      exact double arithmetic — engine-identical throughout. Two
    //      grouped medians + one count, each one shuffle on the tiny
    //      group key; group medians at 100 TB swap to the same
    //      sort-based percentile per partition-bucketed group
    "q68_group_mad" -> ((s, d) => {
      val base = t(s, d, "events")
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("vq"))
      val med = base.groupBy(col("event_type"))
        .agg((median(col("vq")) * 2).as("med2"))
      val dev = base.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med2"),
          abs(col("vq") * 2 - col("med2")).cast("long").as("dev"))
      val mad = dev.groupBy(col("event_type"))
        .agg(median(col("dev")).as("mad2"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"), col("med2"), col("mad2"))
        .agg(count(when(col("dev") > lit(5.0) * col("mad2"), 1)).as("n_outliers"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),
    // ---- ordered set concatenation — the LISTAGG/string_agg surface.
    //      Cardinality-bounded by construction (a per-group SET of a
    //      low-cardinality column); an unbounded listagg is the
    //      documented anti-pattern at scale (one group's list must fit
    //      a row), which is why the engine exposes the set form
    "q72_string_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"))
        .orderBy(col("o_orderpriority"))),
    // ---- 2-D Pareto skyline (min price, max recency) via the
    //      distributed global-order prefix scan — see [[skylinePareto]]
    "q73_skyline_pareto" -> ((s, d) =>
      skylinePareto(t(s, d, "orders"))
        .orderBy(col("price"), col("d").desc, col("o_orderkey"))),
    // ---- running-record scan: second instantiation of the
    //      [[runningScan]] kernel (prefix price max over date order)
    "q74_running_records" -> ((s, d) =>
      runningRecords(t(s, d, "orders")).orderBy(col("o_orderkey"))),
    // ---- cumulative revenue share: third [[runningScan]]
    //      instantiation (prefix-sum monoid, full-output emit)
    "q75_cumulative_share" -> ((s, d) =>
      cumulativeRevenueShare(t(s, d, "orders")).orderBy(col("o_orderkey")))
  )

  case class SkyRow(o_orderkey: Long, price: Double, d: Long)
  case class CumRow(o_orderkey: Long, d: Long, cents: Long)

  /** The GENERIC distributed global-order prefix scan — the kernel
    * Spark's window cannot give: a global ORDER BY frame plans as a
    * SinglePartition exchange, so instead (1) range-partition + sort by
    * the scan order, (2) collect the per-partition merge of the running
    * statistic — nPart rows, the only driver traffic, same bounded
    * shape as the JDBC stride pass, (3) fold the exclusive per-
    * partition prefix offsets into a broadcast, (4) one narrow per-
    * partition pass finishes the scan, each row deciding against the
    * exact prefix statistic of every strictly-earlier row.
    *
    * Caller supplies the monoid: `lift` a row into the statistic,
    * `combine` two statistics (must be associative — the prefix fold
    * depends on it), `emit` a row given the statistic over its strict
    * prefix (None = first row of the global order). Instantiated by
    * the q73 skyline (lexicographic dominance max) and the q74 running-
    * record scan (prefix price max); any running-stat operator —
    * frontier membership, prefix sums, high-watermarks — is one more
    * (lift, combine, emit) triple. Two passes over the projection; at
    * 100 TB the scan-order key would be the table's range-partitioned
    * layout so pass 1 rides the existing sort.
    *
    * localCheckpoint(eager): BOTH passes must see ONE materialized
    * partitioning — re-executing repartitionByRange re-samples its
    * range boundaries (the sampler is seeded per job), so without the
    * checkpoint pass 2 could assign a boundary row to a different
    * partition than the one its broadcast offset was computed from and
    * mis-decide against a wrong prefix. It also halves the work: the
    * projection + range exchange + sort run once, not once per pass
    * (the st11 precedent).
    *
    * Lifecycle: the emit result is materialized EAGERLY (its own
    * checkpoint) so the full-projection checkpoint and the offsets
    * broadcast can be released before return — the operator hands back
    * only its output's blocks, not a corpus-sized intermediate left to
    * the async ContextCleaner. The result of a running scan is its
    * reduction (frontier rows, records), orders of magnitude smaller
    * than the scanned projection; a full-output instantiation (prefix
    * sums) pays its output size once, which its sink was about to
    * materialize anyway. */
  private[graft] def runningScan[T, S, R: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[T], nPart: Int,
      sortCols: Seq[org.apache.spark.sql.Column])(lift: T => S)(
      combine: (S, S) => S)(
      emit: (Option[S], T) => Option[R]): org.apache.spark.sql.Dataset[R] = {
    val sorted = eagerCut(ds
      .repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    // pass 1: per-partition merge of the running statistic (RDD lane:
    // the statistic needs no Encoder, only Java serialization for the
    // nPart-row driver hop)
    val pm: Map[Int, S] = sorted.rdd.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var best: Option[S] = None
      it.foreach(r => best = Some(best.fold(lift(r))(combine(_, lift(r)))))
      best.map(pid -> _).iterator
    }.collect().toMap
    // exclusive prefix fold over ALL partition ids (an empty partition
    // contributes nothing but must not break the chain for later ones)
    val offsets: Map[Int, S] = {
      var acc: Option[S] = None
      (0 until nPart).flatMap { p =>
        val entry = acc.map(p -> _)
        pm.get(p).foreach(m => acc = Some(acc.fold(m)(combine(_, m))))
        entry
      }.toMap
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    // pass 2: narrow per-partition scan with the broadcast offset
    val result = eagerCut(sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var run: Option[S] = bc.value.get(pid)
      it.flatMap { r =>
        val out = emit(run, r)
        run = Some(run.fold(lift(r))(combine(_, lift(r))))
        out.iterator
      }
    })
    // deterministic release: the result no longer references them
    org.apache.spark.sql.graftshim.checkpointRdd(sorted)
      .foreach(_.unpersist(blocking = true))
    bc.destroy()
    result
  }

  /** 2-D Pareto skyline (the non-dominated frontier: no other row has
    * price ≤ AND recency ≥ with one strict) — [[runningScan]] under the
    * scan order (price, d desc, key) with the lexicographic running max
    * of (d, −price): a strictly-earlier sort row dominates iff its d
    * exceeds mine, or ties my d at strictly smaller price — exact
    * duplicates survive (no strict edge), matching the NOT EXISTS
    * definition. */
  def skylinePareto(orders: DataFrame, nPart: Int = 16): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    def lexMax(a: (Long, Double), b: (Long, Double)): (Long, Double) =
      if (b._1 > a._1 || (b._1 == a._1 && b._2 > a._2)) b else a
    val rows = orders.select(col("o_orderkey"),
        col("o_totalprice").as("price"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
      .as[SkyRow]
    runningScan(rows, nPart,
        Seq(col("price"), col("d").desc, col("o_orderkey")))(
        r => (r.d, -r.price))(lexMax) { (run, r) =>
      val dominated = run.exists(m => m._1 > r.d || (m._1 == r.d && -m._2 < r.price))
      if (dominated) None else Some(r)
    }.toDF()
  }

  /** Running-record scan (frontier membership over time): the orders
    * whose price strictly exceeds EVERY earlier order's price in
    * (o_orderdate, o_orderkey) order — [[runningScan]] with the prefix
    * price max as the statistic. The SQL equivalent is a global-order
    * window (`max(price) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING
    * TO 1 PRECEDING)`), which Spark plans as a SinglePartition
    * exchange — the exact bottleneck the kernel exists to avoid. */
  def runningRecords(orders: DataFrame, nPart: Int = 16): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val rows = orders.select(col("o_orderkey"),
        col("o_totalprice").as("price"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
      .as[SkyRow]
    runningScan(rows, nPart,
        Seq(col("d"), col("o_orderkey")))(_.price)(math.max) { (run, r) =>
      if (run.forall(r.price > _)) Some((r.o_orderkey, r.d, r.price)) else None
    }.toDF("o_orderkey", "d", "price")
  }

  /** Cumulative revenue share — the PREFIX-SUM instantiation of
    * [[runningScan]] (third, after q73's dominance max and q74's
    * record max): each order's share of all revenue booked up to and
    * including it in (o_orderdate, o_orderkey) order. The SQL
    * equivalent is `sum(...) OVER (ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` — a global-order frame Spark plans as a
    * SinglePartition exchange, the exact bottleneck the kernel
    * avoids. Unlike q73/q74 this emits EVERY row (the full-output
    * shape), exercising the kernel's output-sized eager checkpoint.
    *
    * Determinism: prices quantize to exact bigint cents
    * (DECIMAL(18,4)·100) so the running sum is integer-exact and
    * order-independent within the monoid; the share is ONE terminal
    * double division of two exactly-summed operands — bit-identical
    * cross-engine (package doc). The denominator rides a broadcast
    * 1-row aggregate, never a driver collect. */
  def cumulativeRevenueShare(orders: DataFrame, nPart: Int = 16): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val cents = (col("o_totalprice").cast(DecimalType(18, 4)) * 100).cast("long")
    val rows = orders.select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"),
        cents.as("cents"))
      .as[CumRow]
    val cum = runningScan(rows, nPart,
        Seq(col("d"), col("o_orderkey")))(_.cents)(_ + _) { (run, r) =>
      Some((r.o_orderkey, r.d, run.getOrElse(0L) + r.cents))
    }.toDF("o_orderkey", "d", "cum_cents")
    val total = orders.agg(sum(cents).as("total_cents"))
    cum.crossJoin(broadcast(total))
      .select(col("o_orderkey"), col("d"),
        (col("cum_cents").cast("double") / col("total_cents").cast("double"))
          .as("cum_share"))
  }

  /** Shared ANSI texts — the SAME string runs on Spark (via the SQL
    * entry point) and on DuckDB as its own oracle. */
  private val WindowValuesSql =
    """SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ORDER BY o_custkey, o_orderkey"""

  private val RatioToReportSql =
    """WITH nat AS (
         SELECT r_name, n_name,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name)
       SELECT r_name, n_name,
         total_bal / CAST(sum(CAST(total_bal AS DECIMAL(18,4)))
           OVER (PARTITION BY r_name) AS DOUBLE) AS share
       FROM nat ORDER BY r_name, n_name"""

  /** Window value functions + ratio-to-report, appended to `queries`. */
  private val sqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- first/last/nth value over a full-partition frame
    "q46_window_values" -> ((s, d) =>
      graft.sources.Tables.sql(s, d, WindowValuesSql)),
    // ---- ratio-to-report: each nation's share of its region total
    //      (window denominator summed in exact decimal so the single
    //      double division is engine-identical)
    "q47_ratio_to_report" -> ((s, d) =>
      graft.sources.Tables.sql(s, d, RatioToReportSql))
  )

  def oracleSql: Map[String, String] = Map(
    "q72_string_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the window replay of the same scan logic: the exclusive running
    // lexicographic max of (d, -price) over the (price, d DESC, key)
    // order decides dominance exactly as the distributed kernel does
    "q73_skyline_pareto" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice AS price,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
           FROM orders),
         w AS (
           SELECT o_orderkey, price, d,
             max(struct_pack(d := d, np := -price)) OVER (
               ORDER BY price, d DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
           FROM o)
         SELECT o_orderkey, price, CAST(d AS BIGINT) AS d
         FROM w
         WHERE m IS NULL OR NOT (m.d > d OR (m.d = d AND -m.np < price))
         ORDER BY price, d DESC, o_orderkey""",
    // the global-order running-sum window the kernel replaces, as its
    // own oracle; cents are exact bigints, the share one terminal
    // double division (hugeint→double and bigint→double both round to
    // nearest, so the operands agree cross-engine)
    "q75_cumulative_share" ->
      """WITH o AS (
           SELECT o_orderkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, CAST(d AS BIGINT) AS d,
           CAST(sum(cents) OVER (ORDER BY d, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST((SELECT sum(cents) FROM o) AS DOUBLE) AS cum_share
         FROM o ORDER BY o_orderkey""",
    // the global-order window the kernel replaces, as its own oracle
    "q74_running_records" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice AS price,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
           FROM orders),
         w AS (
           SELECT o_orderkey, price, d,
             max(price) OVER (ORDER BY d, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           FROM o)
         SELECT o_orderkey, CAST(d AS BIGINT) AS d, price
         FROM w WHERE prev_max IS NULL OR price > prev_max
         ORDER BY o_orderkey""",
    "q62_linear_interpolate" ->
      """WITH ev AS (
           SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
           FROM events),
         obs AS (
           SELECT user_id, day, CAST(sum(vq) AS BIGINT) AS vq
           FROM ev GROUP BY user_id, day),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY user_id),
         days AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span),
         j AS (
           SELECT d.user_id, d.day, o.vq
           FROM days d LEFT JOIN obs o ON o.user_id = d.user_id AND o.day = d.day),
         f AS (
           SELECT user_id, day, vq,
             last_value(CASE WHEN vq IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             last_value(vq IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(CASE WHEN vq IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
             first_value(vq IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
           FROM j)
         SELECT user_id, day,
           CASE WHEN vq IS NOT NULL THEN vq
                ELSE pv + ((nv - pv) * (day - pd)) // (nd - pd) END AS vq_interp,
           (vq IS NOT NULL) AS observed
         FROM f ORDER BY user_id, day""",
    "q59_group_median" ->
      """SELECT event_type,
         median(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS median_vq,
         count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q68_group_mad" ->
      """WITH b AS (
           SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vq
           FROM events),
         med AS (SELECT event_type, median(vq) * 2 AS med2 FROM b GROUP BY 1),
         dev AS (
           SELECT b.event_type, med.med2,
             CAST(abs(b.vq * 2 - med.med2) AS BIGINT) AS dev
           FROM b JOIN med USING (event_type)),
         mad AS (SELECT event_type, median(dev) AS mad2 FROM dev GROUP BY 1)
         SELECT d.event_type, d.med2, m.mad2,
           CAST(count(CASE WHEN d.dev > 5 * m.mad2 THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_events
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY d.event_type, d.med2, m.mad2
         ORDER BY event_type""",
    "q46_window_values" -> WindowValuesSql,
    "q47_ratio_to_report" -> RatioToReportSql,
    "q36_mode_per_group" ->
      """WITH counts AS (
           SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
           FROM orders GROUP BY 1, 2)
         SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority) AS rk
               FROM counts)
         WHERE rk = 1 ORDER BY o_orderstatus""",
    "q37_corr_stats" ->
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(25,4)) * CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4)) * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(25,4)) * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS covar_pop,
           round((CAST(n AS DOUBLE) * sxy - sx * sy) /
             sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
                  (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS corr_qty_price
         FROM m ORDER BY l_returnflag""",
    "q38_unpivot_metrics" ->
      """WITH a AS (
           SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_rev,
             max(o_totalprice) AS max_rev
           FROM orders GROUP BY 1)
         SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
         UNION ALL SELECT o_orderpriority, 'sum_rev', sum_rev FROM a
         UNION ALL SELECT o_orderpriority, 'max_rev', max_rev FROM a
         ORDER BY o_orderpriority, metric""",
    "q67_relative_standing" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
           round(percent_rank() OVER w, 9) AS pr,
           round(cume_dist() OVER w, 9) AS cd
         FROM supplier
         WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
         ORDER BY s_nationkey, s_suppkey""",
    // pivot ≡ conditional aggregation in portable SQL
    "q65_pivot_status" ->
      """SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // ntile is SQL-standard (larger tiles first) over the same total
    // order, so tile boundaries agree bytewise
    "q66_ntile_quartiles" ->
      """WITH r AS (
           SELECT o_orderpriority, o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS q
           FROM orders)
         SELECT o_orderpriority, CAST(q AS BIGINT) AS q,
           count(*) AS n_orders, min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM r GROUP BY o_orderpriority, q
         ORDER BY o_orderpriority, q""",
    "q39_trailing_range_window" ->
      """SELECT user_id, event_id, ts_us,
           count(*) OVER w AS n_5min,
           CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_5min
         FROM (SELECT user_id, event_id, (epoch_ns(ts) // 1000) AS ts_us, value
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
           RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts_us, event_id""",
    "q40_calendar_gapfill" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1),
         span AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
         days AS (
           SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
             CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span)
         SELECT d.day, coalesce(n, 0) AS n_orders, coalesce(rev, 0.0) AS revenue
         FROM days d LEFT JOIN daily USING (day) ORDER BY day""",
    "q41_fuzzy_block_join" ->
      """SELECT a.p_brand AS p_brand, count(*) AS n_close_pairs,
           min(CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)) AS min_dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand
           AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
           AND split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
           AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 10
         GROUP BY 1 ORDER BY 1""",
    "q44_multi_distinct" ->
      """SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
           count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q43_stratified_sample" ->
      """SELECT c_mktsegment, c_custkey, rk FROM (
           SELECT c_mktsegment, c_custkey,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY md5(c_name), c_custkey) AS BIGINT) AS rk
           FROM customer)
         WHERE rk <= 5 ORDER BY c_mktsegment, rk""",
    "q50_shipping_priority" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey, order_date
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q49_setops_all" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
         urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         u AS (
           SELECT 'except_all' AS op, o_custkey
           FROM (SELECT o_custkey FROM big EXCEPT ALL SELECT o_custkey FROM urgent)
           UNION ALL
           SELECT 'intersect_all' AS op, o_custkey
           FROM (SELECT o_custkey FROM big INTERSECT ALL SELECT o_custkey FROM urgent))
         SELECT op, o_custkey, count(*) AS multiplicity
         FROM u GROUP BY op, o_custkey ORDER BY op, o_custkey""",
    "q45_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q42_posexplode_tokens" ->
      """WITH arr AS (
           SELECT p_partkey, string_split(p_name, ' ') AS a FROM part
           WHERE p_partkey < 200)
         SELECT p_partkey,
           unnest(generate_series(1, len(a))) - 1 AS pos,
           unnest(a) AS word
         FROM arr ORDER BY p_partkey, pos"""
  )
}
