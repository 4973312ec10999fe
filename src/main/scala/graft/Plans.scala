package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Writes PLANS.md: formatted physical plans of representative queries —
  * the at-scale audit artifact (pushdown, broadcasts, group limits,
  * codegen fusion) kept in-repo so plan regressions show up in diffs. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val picks = Seq(
      "q02_filter_project" -> "filter/column pruning pushed to parquet",
      "q03_join_broadcast" -> "dimension joins broadcast; fact never shuffles pre-agg",
      "q07_topk_per_group" -> "partial+final WindowGroupLimit bounds shuffle to k/group",
      "q28_salted_agg" -> "two-phase salted aggregation of a hot key",
      "q29_binned_band_join" -> "range predicate as a partitionable equi-join",
      "z01_zh_enrich" -> "reference pipeline: narrow, UDF-free, codegen-fused",
      "d04_minhash_neardups" -> "native one-pass MinHash; only bucket join shuffles",
      "s01_knn_brute" -> "broadcast queries; corpus scanned once, partial top-k",
      "q34_asof_join" -> "as-of join as union+window: one key shuffle, zero join nodes",
      "q36_mode_per_group" -> "deterministic mode: two-level agg + group-limited rank",
      "q40_calendar_gapfill" -> "day spine from a pruned 1-column span scan, zero-filled broadcast join",
      "q41_fuzzy_block_join" -> "edit distance inside (brand, token-pair) blocks: equi-join, never a product",
      "q48_asof_native" -> "custom AsOfJoinExec: SMJ distribution contract, one streaming pass, O(1) key state",
      "q51_bloom_semi_join" -> "bloom prefilter on the fact scan; exact hash semi join removes FPs",
      "q52_merge_upsert" -> "MERGE as one full-outer shuffle join (never broadcast)",
      "t10_contamination" -> "eval gram set broadcasts; train side never re-shuffles for the join",
      "p01_curation_pipeline" -> "five curation gates (two-signal quality) composed without a driver roundtrip",
      "s07_knn_mips_pruned" -> "pruned MIPS: corpus sorts in place per partition, never shuffles pre-topk",
      "t13_duplicate_spans" -> "one (a,b) repartition serves window + both aggregates downstream",
      "g01_pagerank" -> "one superstep = one shuffle; cached adj relation reused every round",
      "q55_recursive_bfs" -> "WITH RECURSIVE as a physical UnionLoop (Spark 4 SQL-level iteration)",
      "q57_variant_extract" -> "parse_json once into VARIANT; typed variant_get, no string re-parse",
      "q13_cube" -> "grouping-set Expand over the full-key partial aggregate, not 4x the facts",
      "e07_funnel" -> "sequence match: one user shuffle, three window passes, zero self-joins",
      "d14_incremental_dedup" -> "delta-vs-lake: corpus never self-pairs; asymmetric bounded block join",
      "g02_triangles" -> "degree-ordered wedge join: out-degree bounded by sqrt(m) against hubs",
      // the source writes distinct-then-anti-join; Catalyst's
      // PushDownLeftSemiAntiJoin flips them when the dim broadcasts —
      // facts stream through the map-side anti join and only surviving
      // keys reach the exchange (post-partial-agg) either way
      "v02_ref_integrity" -> "orphan scan: broadcast anti join map-side; only distinct keys reach the exchange",
      "m14_crossmodal_dup_report" -> "three banded pair sets, one eagerCut, components over their union - never a product",
      "v09_delete_survivors" -> "tombstone apply is a broadcast left_anti over the scan; corpus never shuffles for a delete",
      "v11_partitioned_merge_survivors" -> "partitioned merge-on-read: per-leaf broadcast-anti tombstone apply unioned by name; one agg shuffle, never a data rewrite",
      // the InMemoryFileIndex location line lists the SURVIVING file
      // subset — manifest min/max skipping happens before the plan, so
      // the scan node itself is file-pruned (SinkSpec pins numFiles)
      "v12_skipping_range_read" -> "manifest min/max data skipping: the scan is planned over only the files whose recorded range admits the predicate; tombstones broadcast-anti on top",
      "v13_zorder_range_read" -> "OPTIMIZE ZORDER + skipping read: the fold is laid along the Morton curve of two dimensions, so the range read prunes files on the SECOND dimension too; planned from the #file manifest inventory, zero generation LISTs",
      "v15_zorder3_range_read" -> "n-dim OPTIMIZE ZORDER: the fold rides the 3-D round-robin Morton curve (codegen'd InterleaveBitsN), the range read prunes on the THIRD dimension, and the output replays the 4-D sign-folded key against the SQL mirror",
      "v16_change_data_feed" -> "change data feed: candidate keys from exactly the delta's generation/tombstone dirs, both snapshots semi-joined down to them, ONE key-equi diff join — never a full-outer of two snapshots",
      "v17_clone_read" -> "deep clone read: the clone's own manifest plans the scan; post-clone source mutations are invisible by storage independence, not by filtering",
      "v18_incremental_mv_from_cdf" -> "incremental MV from the change feed: base aggregate never re-scanned, each refresh folds signed partials of an O(delta)-candidate diff — post-images add, pre-images subtract",
      "v21_zorder_quantile_range_read" -> "quantile Z-order read: the fold buckets by sampled cuts (codegen'd BucketByCuts) instead of the linear scale; the skipping read prunes the second dimension and content is layout-invariant",
      "v20_restore_read" -> "RESTORE: version rollback as one metadata-only CAS commit — the restored head lists the old snapshot's generations verbatim; no data file read, copied, or moved",
      "v24_nullskip_read" -> "null-count skipping: the IS NULL scan plans only the files whose #nulls: line admits a null (the all-non-null generation survives as one limit(0) schema branch)",
      "v25_shallow_clone_read" -> "shallow clone read: the scan's file list resolves #ref: entries to the SOURCE's directories — zero copied data files behind the plan; tombstone anti-join unchanged",
      "v19_partitioned_cdf" -> "partitioned change feed: the two root version MAPS are the change detector — untouched leaves cost zero reads, changed leaves diff candidate-bounded, an adopted partition arrives as whole-snapshot inserts",
      "s16_retrieve_rerank" -> "two-stage ANN serve: broadcast shortlist meets the corpus; exact rerank never shuffles it",
      "v07_key_skew" -> "skew profile: map-side key counts; global top-N is a TakeOrdered, not a sort",
      // the plan shows PASS 2 only (the narrow offset scan); pass 1 —
      // per-partition maxima → broadcast offsets — runs at build time
      // against the SAME checkpointed partitioning (Analytics.scala)
      "q73_skyline_pareto" -> "distributed global-order prefix scan: checkpointed range layout + narrow offset pass",
      "q75_cumulative_share" -> "full-output prefix sum over the same kernel: no SinglePartition window, share division rides a 1-row broadcast",
      "s14_ivfpq_topk" -> "IVF-PQ serve from the persisted layout: routing/codebook/ADC joins all broadcast; codes never shuffle pre-topk",
      "t23_bm25_retrieve" -> "BM25: query terms broadcast over the postings — the corpus never shuffles for the match; integer score arithmetic codegen-fused",
      "t24_bm25_index_serve" -> "BM25 serve from the persisted inverted index: four file reads replace the corpus pass; same broadcast match shape",
      "g04_label_propagation" -> "LPA superstep: one vote-count shuffle + map-side-combinable struct-max argmax, no per-node window")
    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans (generated by `graft.Plans`)\n"
    out ++= s"\nData: `$sfDir`. Regenerate: `sbt \"runMain graft.Plans\"`.\n"
    // a fixed 8 cores, not SPARK_GRAFT_CPUS: the shuffle partition
    // counts in the plans must not depend on the host
    Harness.withSession(cpus = "8") { spark =>
      picks.foreach { case (name, why) =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        out ++= s"\n## $name — $why\n\n```\n"
        // full tree + the per-node details (PushedFilters/ReadSchema are
        // the point), capped so pathological plans can't flood the file
        out ++= plan.linesIterator.take(120).mkString("\n")
        out ++= "\n```\n"
      }
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println("PLANS.md written")
  }
}
