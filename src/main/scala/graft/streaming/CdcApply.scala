package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming CDC apply — the "apply changes into a keyed table" loop
  * every lakehouse runs (Delta's `MERGE INTO` under a stream, Iceberg
  * upsert sinks), expressed with public Spark only: `foreachBatch`
  * reduces each micro-batch to one row per key, full-outer-merges it
  * with the current state table, and atomically replaces the state.
  *
  * The merge rule is LAST-WRITER-WINS BY EVENT TIME — `max(struct(
  * ts_us, event_id, payload))`, not "update wins": batch arrival order
  * carries no event-time guarantee (file sources list nondeterministic-
  * ally, backfills interleave), and a max-struct register is associative
  * + commutative, so the final table equals the batch answer under ANY
  * batch partitioning of the input — that invariance is exactly what
  * the oracle pins.
  *
  * Scale notes: per batch this shuffles only the BATCH on the key (the
  * map-side-combinable max-struct), then one outer join against the
  * state; at 100 TB the state table is bucketed by key so the join is
  * shuffle-free on the state side, and the rewrite is a transactional
  * table-format commit (Delta/Iceberg) rather than a parquet dir swap —
  * `localCheckpoint` here stands in for the read-before-overwrite
  * isolation a real table format provides.
  */
object CdcApply {

  /** One merged profile row per key: the event-time-latest
    * (event_type, value_q) per user_id. */
  private def lastPerKey(batch: DataFrame): DataFrame =
    batch
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000)
            .cast("long").as("value_q")).as("s"))
      .groupBy(col("user_id"))
      .agg(max(col("s")).as("s"))

  /** The LWW merge of every state mechanism: `cur` state rows against
    * the batch's `lastPerKey` rows, full-outer on the key, the greater
    * struct winning per key. */
  private def lww(cur: DataFrame, updates: DataFrame): DataFrame =
    cur.select(col("user_id"), col("s").as("cur_s"))
      .join(updates.select(col("user_id"), col("s").as("new_s")),
        Seq("user_id"), "full_outer")
      .select(col("user_id"), greatest(col("cur_s"), col("new_s")).as("s"))

  /** The state table's schema, as [[applyBatch]] writes it. The state
    * reads pass it to the parquet reader, which then infers nothing:
    * inference costs a Spark job per read. */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("s", StructType(Seq(StructField("ts_us", LongType),
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value_q", LongType))))))

  /** Merge one (micro-)batch of raw events into the keyed state table.
    * Associative + commutative in the batch partitioning — see above. */
  def applyBatch(batch: DataFrame, stateDir: String): Unit = {
    val updates = lastPerKey(batch)
    val cur =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(stateDir)))
        // materialize BEFORE overwriting the files it was read from
        graft.operators.eagerCut(
          batch.sparkSession.read.schema(stateSchema).parquet(stateDir))
      else updates.limit(0)
    lww(cur, updates).write.mode("overwrite").parquet(stateDir)
  }

  /** Read the state table back in flat row form. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    flatState(spark.read.schema(stateSchema).parquet(stateDir))

  def runCdcApply(spark: SparkSession, dir: String, stateDir: String): DataFrame = {
    val scoped = EventStreams.scopedSession(spark)
    EventStreams.runForeachBatch(EventStreams.readEventStream(scoped, dir)) { (batch, _) =>
      applyBatch(batch, stateDir)
    }
    readState(scoped, stateDir)
  }

  // -------------------------------------------- manifested state table
  /** The SAME CDC merge loop onto a TRANSACTIONAL manifested table —
    * the upgrade [[applyBatch]]'s scaladoc promises ("at 100 TB the
    * rewrite is a table-format commit rather than a parquet dir
    * swap"): per batch, the event-time-LWW merge for the BATCH'S keys
    * reads through the manifest, then the superseded rows retire and
    * the merged rows land via `upsertManifested` — the key tombstone
    * and the data generation enter the manifest in ONE CAS-guarded
    * manifest claim (O(batch keys) written, never a state rewrite). One
    * commit per batch means (a) no reader ever sees the
    * deleted-but-not-reinserted middle a delete+append pair exposes
    * between its two commits, and (b) a crash leaves the table at a
    * batch BOUNDARY — the pre-batch state in full or the post-batch
    * state in full — so a foreachBatch replay from a durable
    * checkpoint re-reads complete pre-batch LWW state and re-merges
    * against it. A periodic `compactManifested` folds the
    * generation/tombstone trail back to one (the delete-compaction
    * under a live stream).
    *
    * The merge register is the same associative+commutative
    * max-struct, so the final table equals the batch answer under ANY
    * micro-batch partitioning — st11's invariance, now with
    * transactional state. Replay semantics are layered: with
    * `txnVersion` (the streaming loop passes its checkpoint-tracked
    * batchId) a re-fired batch is an exactly-once NO-OP — the table's
    * `#txn` marker records the highest applied batch and the upsert
    * skips, no extra version spent; without it a re-fired batch is
    * still CONTENT-idempotent (`greatest(s, s) = s` re-merges
    * byte-identical rows) at the cost of one more version, folded by
    * the next compaction. The merged rows are eagerCut before the
    * commit: the upsert consumes them twice (key tombstone + data
    * generation), and cutting runs the merge join once instead of
    * twice. */
  private[graft] val CdcTxnApp = "graft.cdc"

  def applyBatchManifested(batch: DataFrame, tableDir: String,
                           txnVersion: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val W = graft.operators.Warehouse
    val updates = lastPerKey(batch)
    val cur =
      if (W.snapshots(tableDir).nonEmpty)
        W.readManifested(spark, tableDir)
          .join(updates.select(col("user_id")), Seq("user_id"), "left_semi")
      else updates.limit(0)
    val merged = graft.operators.eagerCut(lww(cur, updates))
    if (W.snapshots(tableDir).nonEmpty)
      W.upsertManifested(spark, tableDir, merged, "user_id",
        txnVersion.map(v => CdcTxnApp -> v))
    else
      W.appendManifested(spark, tableDir, merged)
    ()
  }

  // ------------------------------- sharded (partitioned) state table
  /** The CDC LWW loop onto a SHARDED manifested root — the layout a
    * 100 TB keyed state table actually ships with: the table is
    * hash-sharded on the key into `shard=<k>` leaves, so per-leaf
    * commits, compactions and scans stay bounded and embarrassingly
    * parallel, while the root VERSION MAPS (r16) keep the ROOT one
    * time-travelable table. Per batch: the same associative LWW
    * merge for the batch's keys, then
    * `upsertManifestedPartitioned` routes the merged rows to their
    * shard by the DETERMINISTIC shard function (`pmod(user_id,
    * nShards)` — a key's shard never changes, satisfying the
    * identity-partitioning contract) and commits ONLY the touched
    * leaves plus one root manifest under the batchId txn marker —
    * per-batch commit cost O(touched shards), not O(nShards) (the
    * r15 lockstep floor §6.1o measured). A replayed batch no-ops
    * per leaf and at the root; a crash mid-merge (some shards
    * committed, some not) converges on the replay — the resumability
    * `upsertManifestedPartitioned` pins. Before the first merge, every
    * missing `shard=<k>` leaf is bootstrapped EMPTY (the warehouse's
    * one leaf creation — idempotent: a crash mid-bootstrap replays by
    * creating only the still-missing leaves, and a raced creator's
    * v1 commit no-ops), so ALL nShards leaves exist and share
    * version numbering before any routed merge; the merge itself —
    * including batch 0 — then always goes through the marker-gated
    * upsert path, closing the two r14 holes: bootstrap detection ran
    * on the LOCAL filesystem (always-false on hdfs://s3a:// roots —
    * every batch re-appended, silently corrupting LWW state), and a
    * crash mid-bootstrap was unrecoverable (replay saw shard=0
    * committed, took the upsert path, and died on the missing
    * leaves). Leaf existence resolves through the same Hadoop FS seam
    * as every other Warehouse path. */
  def applyBatchManifestedPartitioned(batch: DataFrame, rootDir: String,
                                      nShards: Int,
                                      txnVersion: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val W = graft.operators.Warehouse
    type HPath = org.apache.hadoop.fs.Path
    // ONE materialization of the reduced batch: it feeds the shard
    // set, the state semi-join and the merge — without the cut the
    // lastPerKey shuffle would run once per consumer
    val updates = graft.operators.eagerCut(lastPerKey(batch))
    // every missing `shard=<k>` leaf is created EMPTY before the first
    // merge (Warehouse.createLeaves: one template job, then a pure-FS
    // adoption + v1 commit per missing leaf on the bounded pool). A
    // leaf is missing only when its `_manifest-*` trail holds no
    // committed snapshot — re-creating a committed shard would reset
    // its LWW state. Fast path
    // (r17, `mapped`): once any root manifest exists, its version map
    // lists every committed leaf — ONE map read replaces nShards
    // per-leaf head probes per batch.
    val (fs, root) = graft.operators.ManifestIo.resolve(rootDir,
      spark.sparkContext.hadoopConfiguration)
    val missing = W.createLeaves(spark, fs, root,
      (0 until nShards).map(k => new HPath(root, s"shard=$k")), updates,
      mapped = true)
    val freshTable = missing.length == nShards
    val merged = graft.operators.eagerCut {
      val routed =
        if (freshTable)
          // brand-new table: there is no state to merge against — the
          // reduced batch IS the post-batch state (skips the empty
          // state read and the vacuous full-outer join)
          updates.select(col("user_id"), col("s"))
        else {
          // SHARD-PRUNED state read, planned over ONLY the touched
          // leaves (r16): the shard function is deterministic, so the
          // batch's shard set IS the leaf set to read — the union is
          // built from those leaves directly instead of planning all
          // nShards branches and letting Catalyst fold the untouched
          // ones away (plan construction itself is O(leaves) driver
          // work: at 64 shards it dominated the §6.1o sparse-batch
          // profile, at the thousands a 100 TB state table carries it
          // would dwarf the batch). The shard set is nShards-bounded,
          // computed from the (already cut) reduced batch.
          val batchShards = updates
            .select(pmod(col("user_id"), lit(nShards)).as("k"))
            .distinct().collect().map(_.getLong(0)).toSeq.sorted
          val cur =
            if (batchShards.isEmpty) updates.limit(0) // empty batch
            else batchShards
              .map(k => W.readManifested(spark, s"$rootDir/shard=$k"))
              .reduceLeft(_.unionByName(_))
              .join(updates.select(col("user_id")), Seq("user_id"), "left_semi")
          lww(cur, updates)
        }
      routed.withColumn("shard", pmod(col("user_id"), lit(nShards)))
    }
    W.upsertManifestedPartitioned(spark, rootDir, merged, "user_id",
      txnVersion.map(v => CdcTxnApp -> v))
    ()
  }

  def runCdcApplyManifestedPartitioned(spark: SparkSession, dir: String,
                                       rootDir: String,
                                       nShards: Int = 4): DataFrame = {
    val scoped = EventStreams.scopedSession(spark)
    runShardedCdcStream(scoped, dir, rootDir, nShards)
    flatState(graft.operators.Warehouse.readManifestedPartitioned(scoped, rootDir))
  }

  /** The sharded CDC micro-batch loop shared by st28 and st31's
    * writer: per batch one marker-gated O(touched-shard) partitioned
    * upsert, periodic per-leaf delete-compaction under the live
    * stream. `afterBatch(batchId)` runs after each batch's commit
    * (the st31 feed-consumer hook). */
  private[streaming] def runShardedCdcStream(scoped: SparkSession, dir: String,
                                             rootDir: String, nShards: Int,
                                             afterBatch: Long => Unit =
                                               _ => ()): Unit = {
    EventStreams.runForeachBatch(EventStreams.readEventStream(scoped, dir)) { (batch, batchId) =>
      applyBatchManifestedPartitioned(batch, rootDir, nShards, Some(batchId))
      afterBatch(batchId)
      // per-leaf maintenance under the live stream — each shard
      // folds independently (embarrassingly parallel at scale)
      if (batchId % 4 == 3) {
        graft.operators.Warehouse.compactManifestedPartitioned(
          batch.sparkSession, rootDir, targetFileBytes = 1L << 30)
        ()
      }
    }
  }

  def runCdcApplyManifested(spark: SparkSession, dir: String,
                            tableDir: String): DataFrame = {
    val scoped = EventStreams.scopedSession(spark)
    runManifestedCdcStream(scoped, dir, tableDir)
    flatState(graft.operators.Warehouse.readManifested(scoped, tableDir))
  }

  /** The manifested CDC micro-batch loop shared by st27 and st29:
    * per batch one marker-gated atomic upsert (batchId = the
    * checkpoint-tracked txn version, so a replayed batch no-ops),
    * periodic delete-compaction under the live stream. `afterBatch`
    * runs after each batch's commit (the st29 per-batch marker
    * retirement hook). */
  private[streaming] def runManifestedCdcStream(scoped: SparkSession, dir: String,
                                     tableDir: String,
                                     afterBatch: (DataFrame, Long) => Unit =
                                       (_, _) => ()): Unit = {
    EventStreams.runForeachBatch(EventStreams.readEventStream(scoped, dir)) { (batch, batchId) =>
      applyBatchManifested(batch, tableDir, Some(batchId))
      afterBatch(batch, batchId)
      if (batchId % 4 == 3) {
        graft.operators.Warehouse.compactManifested(
          batch.sparkSession, tableDir, targetFileBytes = 1L << 30)
        ()
      }
    }
  }

  private[streaming] def flatState(state: DataFrame): DataFrame =
    state.select(col("user_id"), col("s.ts_us").as("ts_us"),
      col("s.event_id").as("event_id"),
      col("s.event_type").as("event_type"), col("s.value_q").as("value_q"))

  // ----------------------------------------- CDC DELETE events (r15)
  // Real CDC feeds carry DELETES, not only upserts. The partition-
  // invariance contract forces a TWO-PHASE design:
  //
  //  1. DURING the stream a delete is just a row: the event-time-LWW
  //     register keeps it as a MARKER (its event_type names it).
  //     Routing delete-winners straight to the tombstone side per
  //     batch would be wrong under reordering — an out-of-order
  //     EARLIER upsert arriving in a LATER batch (file sources list
  //     nondeterministically, backfills interleave) would find no
  //     state and resurrect the deleted key, breaking the
  //     any-batch-partitioning oracle st11/st27/st28 pin. With the
  //     marker kept, that late upsert loses the max-struct merge; a
  //     LATER-ts re-upsert legitimately overwrites the marker — the
  //     delete-then-reinsert contract.
  //  2. Markers RETIRE to the tombstone side once SEALED — once no
  //     event with a smaller timestamp can still arrive (the
  //     watermark horizon; end-of-stream seals everything):
  //     [[retireDeleteMarkers]] tombstones their keys via ONE
  //     O(markers) `deleteManifested` commit and the next compaction
  //     physically drops the rows — state SHRINKS on delete, the
  //     Kafka delete.retention.ms / Delta CDF tombstone-retention
  //     shape. Retiring an unsealed marker re-exposes its key to late
  //     upserts: the horizon is the caller-owned retention knob,
  //     exactly as in every log-compacted store.

  /** The keyed view with delete markers hidden — what a consumer of
    * the CDC state table reads while markers are still retained. */
  def readLiveState(spark: SparkSession, tableDir: String,
                    deleteTypes: Set[String]): DataFrame =
    flatState(graft.operators.Warehouse.readManifested(spark, tableDir)
      .filter(!col("s.event_type").isin(deleteTypes.toSeq: _*)))

  /** Tombstone every key whose current LWW winner is a delete marker
    * sealed below `sealedBeforeUs` (None = all markers — the
    * end-of-stream / full-retention-horizon case). One merge-on-read
    * commit, O(markers) written; a following compaction materializes
    * the shrink. Returns the number of keys retired. */
  def retireDeleteMarkers(spark: SparkSession, tableDir: String,
                          deleteTypes: Set[String],
                          sealedBeforeUs: Option[Long] = None): Long = {
    val markers = graft.operators.eagerCut(
      graft.operators.Warehouse.readManifested(spark, tableDir)
        .filter(col("s.event_type").isin(deleteTypes.toSeq: _*))
        .filter(sealedBeforeUs.map(h => col("s.ts_us") < h).getOrElse(lit(true)))
        .select(col("user_id")))
    val n = markers.count()
    if (n > 0) {
      graft.operators.Warehouse.deleteManifested(spark, tableDir, markers)
      ()
    }
    n
  }

  /** The st27 loop over a feed whose `deleteTypes` events are CDC
    * DELETES: markers ride the stream (phase 1) and retire PER BATCH
    * at the moving sealed horizon — max event time seen so far minus
    * `sealLagUs`, the production shape (a log-compacted store's
    * delete.retention clock ticking under the live stream; r16) —
    * then fully at end-of-stream (everything sealed), and the final
    * compaction materializes the shrink. `sealLagUs` is the
    * caller-owned disorder bound: a marker retired at the horizon
    * re-exposes its key to an upsert with a SMALLER timestamp arriving
    * later (see [[retireDeleteMarkers]]) — size the lag to the feed's
    * worst-case out-of-orderness, exactly like a watermark delay. The
    * returned state is read UNFILTERED: if retirement under- or
    * over-deleted, the value oracle hash-fails — physically-removed
    * markers are part of the contract, not a view trick. */
  def runCdcApplyManifestedDeletes(spark: SparkSession, dir: String,
                                   tableDir: String,
                                   deleteTypes: Set[String],
                                   sealLagUs: Long = 3_600_000_000L): DataFrame = {
    val scoped = EventStreams.scopedSession(spark)
    // the moving horizon: monotone max event time across batches (the
    // stream's own watermark is per-query state; this loop's driver-
    // side register rebuilds conservatively from later batches after a
    // restart, which can only DELAY retirement — never unseal)
    val maxTsUs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    runManifestedCdcStream(scoped, dir, tableDir, { (batch, _) =>
      val m = batch.agg(max(unix_micros(col("ts")))).head
      if (!m.isNullAt(0))
        maxTsUs.updateAndGet(x => math.max(x, m.getLong(0)))
      if (maxTsUs.get() != Long.MinValue) {
        retireDeleteMarkers(scoped, tableDir, deleteTypes,
          Some(maxTsUs.get() - sealLagUs))
        ()
      }
    })
    retireDeleteMarkers(scoped, tableDir, deleteTypes)
    graft.operators.Warehouse.compactManifested(scoped, tableDir,
      targetFileBytes = 1L << 30)
    flatState(graft.operators.Warehouse.readManifested(scoped, tableDir))
  }
}
