package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the scale properties that make these
  * queries survive a 100× scale-up, pinned so a refactor can't silently
  * regress them (SURVEY.md §4):
  *  - filters/column pruning reach the parquet scan,
  *  - dimension joins broadcast (fact side never shuffles pre-agg),
  *  - the zh derivation pipeline stays narrow and UDF-free.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: predicates and column pruning push to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity,30.0)"), p)
    assert(p.contains("ReadSchema") && !p.contains("l_comment"), p)
  }

  test("q03/q22: dimension joins broadcast; no sort-merge join") {
    Seq("q03_join_broadcast", "q22_multi_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q missing broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
  }

  test("zhEnrich: narrow UDF-free pipeline — one exchange (output sort) only") {
    val p = plan("z01_zh_enrich")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"), p)
    assert(p.contains("contains_han") && p.contains("zh_to_simplified"), p)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly the output-sort exchange, got $exchanges:\n$p")
  }

  test("v07: key-skew profile is a TakeOrdered over the count table, never a global sort") {
    val p = plan("v07_key_skew")
    assert(p.contains("TakeOrderedAndProject"), s"top-N lost its TakeOrdered:\n$p")
    // the only exchange is the per-key count's partial→final shuffle;
    // the total rides a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"total lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("s16: retrieve+rerank — shortlist and query vectors broadcast, corpus never SMJs") {
    val p = plan("s16_retrieve_rerank")
    assert(p.contains("BroadcastHashJoin"), s"rerank joins lost their broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ crept into rerank:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the native codegen'd dot product, not a HOF fold, scores the rerank
    assert(p.contains("dot_ll"), s"exact rerank lost the native dot product:\n$p")
  }

  test("c05: length buckets — cell-partitioned window, no single-partition exchange") {
    val p = plan("c05_length_buckets")
    // the ranking window partitions by (bucket, shard): its exchange is
    // hashpartitioning, never the SinglePartition a global ntile needs
    assert(p.contains("hashpartitioning(bucket"), s"window lost its cell partitioning:\n$p")
    assert(!p.contains("SinglePartition"), s"a global exchange crept in:\n$p")
  }

  test("s13: PQ ADC distance table broadcasts; corpus side never sort-merge-joins") {
    val p = plan("s13_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin"), s"ADC lookup lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ crept into ADC:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s14: IVF-PQ plans with broadcast route/ADC tables and no cartesian node") {
    val p = plan("s14_ivfpq_topk")
    assert(!p.contains("CartesianProduct"), p)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    val smj = "SortMergeJoin".r.findAllIn(p).length
    info(s"s14 joins: $bhj broadcast, $smj sort-merge")
    // route, codebook and ADC tables must all ride broadcasts; the one
    // tolerated shuffle join is candidates ⋈ codes on vec_id (both
    // corpus-derived — co-partitioned/bucketed by vec_id at 100 TB)
    assert(bhj >= 3, s"expected ≥3 broadcast joins:\n$p")
    assert(smj <= 1, s"only the vec_id candidates⋈codes join may SMJ:\n$p")
  }

  test("knn brute force: query side broadcasts, corpus never shuffles") {
    val p = plan("s01_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q12/q13: grouping-set Expand runs over the partial aggregate, not the fact scan") {
    Seq("q12_rollup", "q13_cube").foreach { q =>
      val p = plan(q)
      // the tree prints top-down: Expand's child is the next line — it
      // must be an aggregate, not the scan/join. A cube/rollup applied
      // straight to the facts replicates each row per grouping set
      // before the first shuffle.
      val m = "Expand [^\n]*\n[^\n]*?\\+- (\\w+)".r.findFirstMatchIn(p)
      assert(m.isDefined, s"$q lost its Expand:\n$p")
      assert(m.get.group(1) == "HashAggregate",
        s"$q Expand feeds off ${m.get.group(1)}, not the partial aggregate:\n$p")
    }
  }

  test("d14: incremental dedup plans with no cartesian product and both anti-join tiers") {
    val p = plan("d14_incremental_dedup")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation degenerated to a cross product:\n$p")
    // exact-hash tier + final survivor anti join
    val antis = "LeftAnti".r.findAllIn(p).length
    assert(antis >= 2, s"expected the md5 tier and the survivor anti join, got $antis:\n$p")
  }

  test("s11: kmeans assignment is a broadcast map — corpus never sort-merge-joins") {
    val p = plan("s11_kmeans_2iter")
    // both assignment rounds ride a 1-row broadcast of the centroid
    // array; the only exchanges are the (cid, dim) update aggregate,
    // the centroid re-assembly, and the output sort
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a join:\n$p")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges <= 4, s"kmeans grew $exchanges exchanges:\n$p")
  }

  test("d12: simhash pin plans cartesian-free — tiled equi-joins only") {
    val p = plan("d12_simhash_equality_pin")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pin's brute side regrew a product:\n$p")
  }

  test("e07: funnel = one data shuffle, three window passes, no self-joins") {
    val p = plan("e07_funnel")
    assert(!p.contains("Join"), s"funnel grew a self-join:\n$p")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected user shuffle + output sort, got $exchanges:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows == 3, s"expected 3 window passes, got $windows:\n$p")
  }

  // WindowGroupLimit nodes per top-k row: a rank filter behind a group
  // exchange plans a Partial node before it and a Final one after it;
  // s18's second rank reuses the first's q_id partitioning, so it adds
  // one node and no exchange
  private val groupLimits = Seq(
    "q07_topk_per_group" -> 2, "q36_mode_per_group" -> 2,
    "q43_stratified_sample" -> 2, "e04_first_per_key" -> 2,
    "t08_tfidf_topterms" -> 2, "t23_bm25_retrieve" -> 2,
    "t24_bm25_index_serve" -> 2, "s01_knn_brute" -> 2, "s02_knn_lsh" -> 2,
    "s07_knn_mips_pruned" -> 2, "s13_pq_adc_topk" -> 2,
    "s17_index_upsert" -> 2, "s19_hard_negatives" -> 2,
    "s05_knn_ivf" -> 4, "s14_ivfpq_topk" -> 4, "s16_retrieve_rerank" -> 6,
    "s18_prefix_refine" -> 3)

  test("q07: partial+final WindowGroupLimit bounds the shuffled rows to k per group") {
    val p = plan("q07_topk_per_group")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") && p.contains("Final"), p)
  }

  test("top-k rows: each plans its expected partial+final WindowGroupLimit nodes") {
    groupLimits.foreach { case (q, n) =>
      val p = plan(q)
      val limits = "WindowGroupLimit".r.findAllIn(p).length
      assert(limits == n, s"$q: expected $n WindowGroupLimit nodes, got $limits:\n$p")
      assert(p.contains("Partial") && p.contains("Final"), s"$q:\n$p")
    }
  }

  test("topKPer: 1-based long rank, tiebreak decides ties, layout-invariant, short group whole") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.LongType
    import graft.operators.topKPer
    // group 1 ties at score 5 (ids 3 and 1): the id tiebreak ranks 1
    // first; group 2 holds one row, fewer than k
    val df = Seq((1, 5, 3L), (1, 5, 1L), (1, 9, 2L), (1, 2, 4L), (2, 7, 5L))
      .toDF("g", "score", "id")
    def top(in: DataFrame) =
      topKPer(in, Seq(col("g")), Seq(col("score").desc, col("id")), 3)
    def rows(in: DataFrame) =
      top(in).select("g", "id", "rk").orderBy("g", "rk").as[(Int, Long, Long)].collect().toSeq
    assert(top(df).schema("rk").dataType == LongType)
    val want = Seq((1, 2L, 1L), (1, 1L, 2L), (1, 3L, 3L), (2, 5L, 1L))
    assert(rows(df) == want)
    Seq(1, 7).foreach(n => assert(rows(df.repartition(n)) == want, s"repartition($n)"))
  }

  test("bucketed co-located join: no exchange on either side") {
    import graft.sources.Bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (li, o) = Bucketing.bucketedPair(spark, sf)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderpriority")).count()
      val p = joined.queryExecution.executedPlan.toString
      assert(!"(?<!Broadcast)Exchange hashpartitioning\\(l_orderkey".r.findFirstIn(p).isDefined &&
        !"(?<!Broadcast)Exchange hashpartitioning\\(o_orderkey".r.findFirstIn(p).isDefined,
        s"bucketed join still shuffles a side:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned write: partition pruning reaches the read back") {
    import graft.sources.Tables
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables(spark, sf, "events").write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    val anyType = spark.read.parquet(out).select("event_type").first().getString(0)
    val p = spark.read.parquet(out).filter(col("event_type") === anyType)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type") ||
      p.contains(s"PartitionFilters: [(event_type"), s"no partition pruning:\n$p")
  }

  test("q34: as-of join never materializes a join — one key shuffle + window") {
    val p = plan("q34_asof_join")
    assert(!p.contains("Join"), s"asof fell back to a physical join:\n$p")
    assert(p.contains("Window"), p)
    // exchanges: one for the key window, one for the views pre-dedup
    // groupBy (same key), one for the final output sort — never a
    // per-pair candidate blow-up
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"unexpected shuffle count $exchanges:\n$p")
  }

  test("q48: native as-of exec plans with one shuffle+sort per side, no window") {
    val p = plan("q48_asof_native")
    assert(p.contains("AsOfJoin"), s"custom exec not planned:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
    // two key exchanges (one per side) + the output sort
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges <= 4, s"unexpected shuffle count $exchanges:\n$p")
  }

  test("native as-of output partitioning feeds a key aggregate with no new shuffle") {
    import graft.operators.{AsOf, t => tbl}
    val ev = tbl(spark, sf, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("v_ts_us"))
      .agg(max(col("event_id")).as("view_id"))
    val agg = AsOf.asofJoinNative(clicks, views, "user_id", "c_ts_us",
        "v_ts_us", "view_id", Seq("view_id"))
      .groupBy(col("user_id")).agg(count(col("view_id")).as("n"))
    val p = agg.queryExecution.executedPlan.toString
    // the join's two input exchanges only — the downstream per-key agg
    // reuses the advertised hash partitioning
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(p.contains("AsOfJoin"), p)
    assert(exchanges <= 3, s"aggregate re-shuffled the as-of output:\n$p")
  }

  test("q51: bloom prefilter sits on the fact scan; semi join needs no SMJ") {
    val p = plan("q51_bloom_semi_join")
    // the bloom probe must be the NATIVE might_contain expression
    // evaluating directly above the lineitem scan (map side, inside
    // whole-stage codegen — no per-row UDF dispatch), and the exact
    // verify is a hash semi join — never a sort-merge
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF("), p)
    assert(!p.contains("BatchEvalPython"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t10: the eval split's gram set broadcasts; train grams never re-shuffle for the join") {
    val p = plan("t10_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q52: merge upsert is one shuffle join, not a broadcast of a 100TB side") {
    // full-outer can't broadcast: both sides must survive unmatched.
    // Pin the join stays a shuffle join (SMJ or shuffled-hash under
    // AQE) — if Spark ever silently broadcast one side the plan would
    // be wrong at scale even though it'd pass at sf0.001.
    val p = plan("q52_merge_upsert")
    assert(p.contains("FullOuter"), p)
    // BroadcastHASHJoin can't even express full-outer — a broadcast
    // regression would surface as BroadcastNestedLoopJoin, so pin the
    // positive property (a shuffle join runs it) AND the real negative
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t08: tf-idf corpus size joins as broadcast, not a shuffle") {
    val p = plan("t08_tfidf_topterms")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus-size scalar should broadcast:\n$p")
  }

  test("t23: BM25 query workload broadcasts over the postings; no cartesian") {
    val p = plan("t23_bm25_retrieve")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term match should broadcast, postings never shuffle for it:\n$p")
    // the 1-row corpus-stats scalar rides a broadcast crossJoin by
    // construction; a true cartesian over data-sized relations may not
    assert(!p.contains("CartesianProduct"), s"cartesian crept into BM25:\n$p")
  }

  test("s19: hard-negative queries broadcast; corpus never shuffles to score") {
    val p = plan("s19_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ crept in:\n$p")
  }

  test("q36: mode is two-level agg + group-limited rank, never a global sort") {
    val p = plan("q36_mode_per_group")
    assert(p.contains("WindowGroupLimit"), s"rank filter not group-limited:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"missing partial agg:\n$p")
  }

  test("q40: day spine derives from a pruned scan, not a second groupBy pass") {
    val p = plan("q40_calendar_gapfill")
    // two scans total: the daily aggregate and the 1-column span min/max
    assert("FileScan parquet".r.findAllIn(p).length == 2, p)
    // the heavy per-day aggregate exchange must appear exactly once
    assert("Exchange hashpartitioning\\(day".r.findAllIn(p).length <= 1,
      s"daily aggregate computed twice:\n$p")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined, p)
  }

  test("q41: fuzzy join is an equi-join on the blocking key, never a product") {
    val p = plan("q41_fuzzy_block_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to a product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q39: range-frame window costs one key shuffle plus the output sort") {
    val p = plan("q39_trailing_range_window")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"unexpected shuffle count $exchanges:\n$p")
  }

  test("tombstone read: the delete anti join BROADCASTS the tombstone side, never an SMJ") {
    // the scanGens contract at 100 TB: the data side is the corpus and
    // must not shuffle for the suppression — the delete-sized tombstone
    // union ships to it as a broadcast left_anti
    val W = graft.operators.Warehouse
    val dir = java.nio.file.Files.createTempDirectory("graft_plandel")
      .resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 1000).toDF("id"))
    W.deleteManifested(spark, dir, spark.range(0, 10).toDF("id"))
    val p = W.readManifested(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone apply is not a broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a delete:\n$p")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("partitioned manifested read: a partition filter prunes whole leaves out of the plan") {
    // readManifestedPartitioned attaches partition values as LITERAL
    // columns per leaf, so a predicate on the partition column folds to
    // FALSE in every non-matching union branch and Catalyst eliminates
    // that branch's scan entirely (PruneFilters + PropagateEmptyRelation)
    // — directory-level partition pruning at 100 TB, measured on the
    // scan's own numFiles metric, not inferred from prose
    val W = graft.operators.Warehouse
    val dir = java.nio.file.Files.createTempDirectory("graft_planprune")
      .resolve("tbl").toString
    spark.range(0, 300).toDF("id")
      .withColumn("lang",
        when(col("id") % 3 === 0, lit("en"))
          .when(col("id") % 3 === 1, lit("de")).otherwise(lit("fr")))
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    val probe = W.readManifestedPartitioned(spark, dir)
      .filter(col("lang") === "en")
    // execute through the Dataset's OWN QueryExecution (count() plans a
    // separate execution and would leave these metrics untouched)
    assert(probe.collect().length == 100)
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"expected 1 surviving leaf scan, got ${scans.length}:\n" +
        probe.queryExecution.executedPlan)
    val enFiles = new java.io.File(s"$dir/lang=en/.gen-1").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(scans.head.metrics("numFiles").value == enFiles.toLong,
      "the surviving scan read more than the matching leaf")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("q55 leaves the session's temp views as it found them") {
    // q55's text names no table of sf (Tables.sql registers none), so
    // the caller needs no views registered beforehand for this to hold
    spark.range(3).createOrReplaceTempView("q55_und") // a caller's own view
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    try {
      val bfs = SparkEntry.queries("q55_recursive_bfs")(spark, sf)
      assert(views == before)
      assert(spark.table("q55_und").count() == 3)
      assert(bfs.collect().nonEmpty)
    } finally spark.catalog.dropTempView("q55_und")
  }

  test("withTempView drops its view when the body throws") {
    var seen = ""
    val err = intercept[IllegalStateException] {
      graft.operators.withTempView(spark.range(2).toDF(), "probe") { v =>
        seen = v
        assert(spark.catalog.tableExists(v))
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(seen.startsWith("probe_") && !spark.catalog.tableExists(seen))
  }

  test("merge-then-extract fires in the applied-enrichment projection") {
    import graft.operators.ZhEnrich
    import graft.sources.OsmFixture
    val enriched = ZhEnrich.enrichTable(OsmFixture(spark), "id")
      .select(col("id"), element_at(col("tags"), "name:zh-Hans").as("hans"))
    val opt = enriched.queryExecution.optimizedPlan.toString
    // the projection of a just-merged constant key must not rebuild the map
    assert(!opt.contains("map_concat"), opt)
  }
}
