package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Warehouse-pattern operators: bloom-filter-accelerated semi join,
  * MERGE-style upsert, and a columnar-format interchange roundtrip.
  *
  * These are the three moves a 100 TB lakehouse pipeline leans on that
  * the rest of the catalog doesn't yet exercise directly:
  *
  * - '''Bloom semi join''' — when the probe side is far too large to
  *   shuffle in full and the build side's key set is selective but too
  *   big for a broadcast hash join, ship a bloom filter of the build
  *   keys to every probe task and drop non-members BEFORE the shuffle.
  *   Spark's own runtime row-level filtering (InjectRuntimeFilter,
  *   `spark.sql.optimizer.runtime.bloomFilter.enabled`) injects exactly
  *   this plan automatically when stats justify it; the explicit form
  *   here keeps the decision deterministic and testable. The trailing
  *   exact semi join removes the bloom's false positives, so the result
  *   is exact — the filter only cuts shuffled bytes (by ~the build
  *   side's selectivity), never changes the answer.
  * - '''MERGE upsert''' — the Delta/Iceberg `MERGE INTO` shape
  *   (SCD-style refresh) expressed as one full-outer shuffle join of
  *   snapshot vs. change-set: matched rows update, source-only rows
  *   insert, target-only rows carry over. One shuffle on the merge key,
  *   AQE-coalesced; at 100 TB both sides bucket on the key and the
  *   join is shuffle-free.
  * - '''ORC roundtrip''' — write a projected/filtered slice to ORC and
  *   read it back: the cross-format interchange path (parquet-native
  *   shops still exchange ORC with Hive-era estates), verifying types
  *   (incl. ms timestamps) survive the format boundary losslessly.
  */
object Warehouse
    extends WarehouseManifest
    with WarehouseLeaf
    with WarehouseRoot
    with WarehouseRetention
    with WarehouseChanges
    with WarehouseConstraints
    with WarehouseQueries {

  /** Exact semi join of `fact` against `dimKeys`, pre-filtered by a
    * bloom filter over the key set built with Spark's OWN runtime-filter
    * expressions (`BloomFilterAggregate` → `BloomFilterMightContain`,
    * the pair `InjectRuntimeFilter` plants): the probe compiles into
    * whole-stage codegen above the fact scan — no per-row UDF
    * dispatch/boxing. `fpp` trades filter size for shuffled false
    * positives: 1% FPP ≈ 9.6 bits/key — 3k keys here, ~120 MB for 100M
    * keys at scale, both fine to ship as a literal/broadcast where a
    * hash set of raw keys would not be. */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.{graftshim => shim}
    val keys = dim.select(col(dimKey))
    // Sizing needs an item-count estimate; a real deployment reads it
    // from table stats (zero jobs). Counting here keeps the test
    // deterministic and self-contained — one cheap count on the small
    // (build) side only.
    val n = math.max(keys.count(), 1L)
    // optimal bits for target fpp: -n·ln(p)/ln(2)²
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // One small job aggregates the filter (same materialization
    // stat.bloomFilter performed); the resulting few-KB..MB binary rides
    // the plan as a literal, which BloomFilterMightContain requires
    // (constant or scalar subquery) and which codegen inlines.
    val bfBytes = keys.agg(shim.column(
        new BloomFilterAggregate(new XxHash64(Seq(shim.expression(col(dimKey)))),
          Literal(n), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    val probe = shim.column(BloomFilterMightContain(
      Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(shim.expression(col(factKey))))))
    fact.filter(col(factKey).isNotNull && probe)
      .join(keys.withColumnRenamed(dimKey, factKey), Seq(factKey), "left_semi")
  }

  /** MERGE-style upsert: apply a change-set onto a snapshot keyed by
    * `key`. Matched → update (both payloads present), source-only →
    * insert, target-only → keep. Returns the merged table plus the
    * per-row action taken. */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val t = target.withColumn("_in_t", lit(1))
    val s = source.withColumn("_in_s", lit(1))
    t.join(s, Seq(key), "full_outer")
      .withColumn("action",
        when(col("_in_t").isNotNull && col("_in_s").isNotNull, "update")
          .when(col("_in_s").isNotNull, "insert")
          .otherwise("keep"))
      .drop("_in_t", "_in_s")
  }

  /** SCD2 validity intervals from an event log — the slowly-changing-
    * dimension history build: per key, each CHANGE of the tracked
    * attribute opens a [valid_from, valid_to) interval, closed by the
    * next change (NULL = current). Change detection is `lag`, interval
    * close is `lead` over the change rows only — both windows share one
    * (key, time) shuffle; the post-filter window reuses the partitioning
    * (no second exchange). The dimension-table twin of `q52`'s MERGE:
    * MERGE maintains the snapshot, this derives the full history. */
  def scd2Intervals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }


  /** What [[vacuum]] removed from a manifested leaf: orphan
    * generation/tombstone directories and blank `_manifest-v` claims
    * (claim staging files go unreported: they carry no version). */
  case class VacuumReport(removedGenerations: Seq[String],
                          removedManifests: Seq[Long])

  /** GC the debris an ABORTED commit strands in a manifested leaf —
    * the maintenance op (Delta VACUUM / Iceberg remove-orphan-files)
    * that the retention GC inside [[compactManifested]] cannot cover,
    * because that GC only walks REFERENCED generations. Two debris
    * classes, each from a specific crash window:
    *
    *  - '''orphan generation directories''' — a crash after the
    *    generation's data write but before its manifest claim
    *    (append or compaction fold), or a compaction whose CAS lost;
    *    referenced by no retained manifest.
    *  - '''uncommitted manifest claims''' — a crash inside a claim:
    *    the staging file a content-atomic claim writes before it
    *    links or renames it into place (`file:`, HDFS), or a blank
    *    `_manifest-v` that a store claiming before it writes (or an
    *    older build) leaves. Neither is ever a head, so removing them
    *    changes no read. A NON-blank `_manifest-v` is a committed
    *    snapshot — the claim is the commit — and only the retention GC
    *    removes it.
    *
    * The RETENTION window is honored by construction: liveness is
    * anchored on the surviving `_manifest-*` trail, so every
    * generation any retained snapshot references stays readable via
    * [[readManifestedAt]] afterwards. A leaf with no committed
    * snapshot at all is left untouched (nothing committed to anchor
    * liveness — e.g. a crash mid-adoption, which the next append
    * self-heals). Runs under the per-table lock; at 100 TB this is
    * the same listing + bounded-delete pass per leaf, embarrassingly
    * parallel across leaves.
    *
    * CROSS-PROCESS writers (r14): crash debris and a live foreign
    * writer mid-commit are indistinguishable by layout alone — every
    * append/compaction has a window where its generation is written
    * (or its `_manifest-v` claimed) but the manifest body not yet
    * complete, and vacuuming that writer's files would break its
    * in-flight commit. The AGE GRACE closes it, the Delta VACUUM /
    * Iceberg remove-orphan-files convention: only debris whose
    * modification time is older than `graceMs` (default 1 h) is
    * deleted — a live writer's files are by construction younger than
    * its commit window, while true crash debris only ages. Pass
    * `graceMs = 0` only when no concurrent cross-process writer can
    * exist (single-writer maintenance windows, tests). The in-process
    * lock already serializes same-JVM writers regardless. The grace
    * compares this host's wall clock against storage mtimes — pad it
    * by the deployment's worst-case clock skew (the Delta VACUUM
    * clock caveat; see the retention note in [[compactManifested]]). */
  val DefaultVacuumGraceMs: Long = 60L * 60 * 1000

}
