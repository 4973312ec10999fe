package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING consumption of a manifested table's change data feed —
  * the missing half of r18's `tableChanges` (Delta CDF's
  * `readStream.option("readChangeFeed", true)`, the API that lets a
  * downstream system FOLLOW a 100 TB table at the cost of its deltas
  * instead of re-reading snapshots): a consumer tails the source's
  * manifest versions, reads each new `(lastConsumed, head]` window as
  * NET row changes through [[graft.operators.Warehouse.tableChanges]],
  * and applies them to an independent downstream table with
  * exactly-once, marker-gated commits.
  *
  * The demonstration workload ([[runCdfMirror]], query `st30`) is the
  * canonical one: replicate a CDC-maintained keyed table into a mirror
  * the consumer owns. The writer is st27's loop,
  * [[CdcApply.runManifestedCdcStream]] (same commits, same periodic
  * delete-compaction under the live stream);
  * the consumer rides its `foreachBatch` hook at zero lag, so the
  * feed windows it consumes are exactly the version ranges a
  * production tailing consumer would see — including windows a
  * maintenance fold crossed, which net to ZERO rows and commit
  * NOTHING downstream (compaction is invisible to the feed's
  * consumers, the same invariance st23/st26 pin for serving).
  *
  * EXACTLY-ONCE: the mirror's own `#txn:` markers are the consumer's
  * durable cursor — the delete and upsert commits of window
  * `(from, to]` are gated on `(app, to)`, so a crash-replayed window
  * no-ops both commits (the [[graft.operators.WarehouseLeaf
  * .upsertManifested]] contract; StreamingSpec pins version-for-version
  * that a replay leaves the mirror untouched). A restarted consumer
  * that lost its in-memory cursor can resume from any retained
  * version at or below its marker — replay is free, skip is the only
  * sin (and a skipped-window delete surfacing against an empty mirror
  * refuses loudly rather than dropping the retraction).
  *
  * SCALE: each window costs O(its changed data) — `tableChanges`
  * bounds both snapshot reads to the candidate keys of the window's
  * manifest-entry symmetric difference — plus two O(delta) mirror
  * commits; the untouched key space is never read on either side. The
  * initial catch-up window (`fromVersion = 0`) is the whole snapshot
  * as inserts, Delta's `startingVersion = 0` convention.
  */
object ChangeFeedStream {

  /** Marker app ids for the mirror's two per-window commits. Distinct
    * ids because the two commits share one monotone sequence per app:
    * gating both on one id would make the second commit of a window
    * read as already-applied the moment the first lands. */
  private[graft] val MirrorDelApp = "graft.cdf.mirror.del"
  private[graft] val MirrorUpApp = "graft.cdf.mirror.up"

  /** Apply the net changes of `srcTable`'s `(fromVersion, toVersion]`
    * window to `mirrorTable`: `delete` pre-images retract their keys
    * (one merge-on-read tombstone commit), `insert`/`update_postimage`
    * rows land through one keyed upsert; `update_preimage` rows are
    * implied by the upsert and not applied. Both commits are
    * marker-gated on `toVersion` — replaying a consumed window no-ops.
    * `fromVersion = 0` is the initial snapshot (everything at
    * `toVersion` as inserts). Returns the number of change rows
    * applied — 0 for an empty or fold-only window, which also commits
    * nothing (the mirror's version history advances only when data
    * changed). */
  def consumeWindow(spark: SparkSession, srcTable: String,
                    mirrorTable: String, key: String,
                    fromVersion: Long, toVersion: Long): Long = {
    val W = graft.operators.Warehouse
    if (fromVersion >= toVersion) return 0L
    val changes = graft.operators.eagerCut(
      if (fromVersion == 0L)
        W.readManifestedAt(spark, srcTable, toVersion)
          .withColumn("change_type", lit("insert"))
      else W.tableChanges(spark, srcTable, key, fromVersion, toVersion))
    val dels = changes.filter(col("change_type") === "delete").select(col(key))
    val posts = changes
      .filter(col("change_type").isin("insert", "update_postimage"))
      .drop("change_type")
    val nDel = dels.count()
    val nPost = posts.count()
    if (nDel + nPost > 0 && W.snapshots(mirrorTable).isEmpty) {
      // first contact, gated on the window actually carrying rows
      // (r20 ADVICE — an empty/fold-only first window must not spend
      // a mirror version): commit an empty schema-bearing generation
      // so even the FIRST window's data lands through the marker-gated
      // upsert — the consumer is exactly-once from its first commit.
      // (limit(0) alone has zero partitions and would write no part
      // file; the generation must carry the schema.)
      require(nDel == 0L,
        s"consumeWindow: window ($fromVersion, $toVersion] of $srcTable " +
          s"carries deletes but $mirrorTable is empty — the consumer " +
          "skipped earlier windows; resume from its last marker instead")
      W.appendManifested(spark, mirrorTable,
        changes.drop("change_type").limit(0).repartition(1))
      ()
    }
    if (nDel > 0)
      W.deleteManifested(spark, mirrorTable, dels,
        Some(MirrorDelApp -> toVersion))
    if (nPost > 0)
      W.upsertManifested(spark, mirrorTable, posts, key,
        Some(MirrorUpApp -> toVersion))
    nDel + nPost
  }

  /** [[consumeWindow]] over a PARTITIONED root — the change feed of a
    * 100 TB sharded table consumed downstream at the cost of its
    * deltas. The initial catch-up (`fromRootVersion = 0`) is a DEEP
    * CLONE of the source at `toRootVersion` (real replication's
    * snapshot-then-tail shape — the clone is the snapshot transfer,
    * the feed is the tail); a crashed initial sync converges by
    * re-running the clone, and a replay AFTER it completed skips (the
    * mirror holding root versions at cursor 0 can only mean a
    * completed sync). Incremental windows apply
    * [[graft.operators.Warehouse.tableChangesPartitioned]]'s net
    * changes through the partitioned row ops, marker-gated on the
    * window's `toRootVersion`, each RESUMABLE per leaf: deletes as one
    * all-leaf tombstone commit, post-images routed to their leaves by
    * the feed's re-attached partition columns — a partition ADOPTED at
    * the source inside the window arrives as whole-snapshot inserts
    * and is adopted at the mirror by the upsert itself. Untouched
    * leaves cost nothing at either end (the root version maps are the
    * change detector upstream, the touched-slice walk the commit
    * bound downstream). */
  def consumeWindowPartitioned(spark: SparkSession, srcRoot: String,
                               mirrorRoot: String, key: String,
                               fromRootVersion: Long,
                               toRootVersion: Long): Long = {
    val W = graft.operators.Warehouse
    if (fromRootVersion >= toRootVersion) return 0L
    if (fromRootVersion == 0L) {
      if (W.rootSnapshots(mirrorRoot).nonEmpty) return 0L // already synced
      W.cloneManifestedPartitioned(spark, srcRoot, mirrorRoot,
        Some(toRootVersion))
      return W.readManifestedPartitioned(spark, mirrorRoot).count()
    }
    val changes = graft.operators.eagerCut(
      W.tableChangesPartitioned(spark, srcRoot, key,
        fromRootVersion, toRootVersion))
    val dels = changes.filter(col("change_type") === "delete").select(col(key))
    val posts = changes
      .filter(col("change_type").isin("insert", "update_postimage"))
      .drop("change_type")
    val nDel = dels.count()
    val nPost = posts.count()
    if (nDel > 0) {
      // the skipped-window guard the non-partitioned twin has (r20
      // ADVICE): a delete window against a mirror that never synced
      // would tombstone absent keys — a silent no-op of the
      // retraction. Skip is the only sin; refuse loudly.
      require(W.rootSnapshots(mirrorRoot).nonEmpty,
        s"consumeWindowPartitioned: window ($fromRootVersion, " +
          s"$toRootVersion] of $srcRoot carries deletes but $mirrorRoot " +
          "has no synced snapshot — the consumer skipped the initial " +
          "sync; resume from fromRootVersion = 0")
      W.deleteManifestedPartitioned(spark, mirrorRoot, dels,
        Some(MirrorDelApp -> toRootVersion))
    }
    if (nPost > 0)
      W.upsertManifestedPartitioned(spark, mirrorRoot, posts, key,
        Some(MirrorUpApp -> toRootVersion))
    nDel + nPost
  }

  /** The mirror's DURABLE cursor: a source version from which resuming
    * is certainly safe, recovered from the mirror's own `#txn:`
    * markers — what a restarted consumer that lost its in-memory
    * position resumes from. [[consumeWindow]] commits a window's
    * delete FIRST and upsert LAST, so the upsert marker is the last
    * toVersion whose window completed through its final commit — the
    * safe anchor (absent → 0, a mirror that never applied posts).
    * The delete marker may legitimately sit AHEAD of it (a crash
    * between a window's two commits, or a delete-only window);
    * resuming from the upsert marker re-derives those versions and
    * the already-applied delete no-ops on its own marker while any
    * missing upsert applies — replay is free, skip is the only sin.
    * A wider replayed window stays correct because the feed is NET
    * changes between endpoints applied idempotently. */
  def cdfCursor(mirrorTable: String): Long =
    graft.operators.Warehouse.committedTxns(mirrorTable)
      .getOrElse(MirrorUpApp, 0L)

  /** Handle for a [[startCdfConsumer]] loop: `stop()` requests a
    * graceful halt after the in-flight window (if any) and joins;
    * `crash()` abandons the thread WITHOUT draining — the test double
    * for a killed consumer process (the loop checks the flag between
    * windows; its durable state is the mirror's markers, so abandoning
    * it loses nothing a restart can't recover). Any error that killed
    * the loop rethrows on `stop()`. */
  final class CdfConsumerHandle private[ChangeFeedStream] (
      thread: Thread,
      stopFlag: java.util.concurrent.atomic.AtomicBoolean,
      err: java.util.concurrent.atomic.AtomicReference[Throwable]) {
    def stop(): Unit = {
      stopFlag.set(true)
      thread.join(120000)
      val e = err.get()
      if (e != null) throw e
    }
    def crash(): Unit = {
      stopFlag.set(true)
      thread.join(120000)
    }
    def failed: Option[Throwable] = Option(err.get())
  }

  /** STANDALONE change-feed consumer — the independent process
    * lifecycle the in-writer hook of [[runCdfMirror]] demonstrates at
    * zero lag: its own scoped session, its own polling trigger, no
    * participation in the writer's stream. Polls the source's
    * snapshot head every `pollIntervalMs`, consumes each new
    * `(cursor, head]` window through the marker-gated
    * [[consumeWindow]], and RESUMES FROM THE MIRROR'S `#txn:` CURSOR
    * at startup — so a consumer started long after the writer, or
    * restarted after a crash mid-window, converges without
    * coordination (the replication-tailer contract: the cursor is in
    * the replica, not in the process). Windows are version ranges, so
    * a consumer that wakes up N commits behind pays ONE window of the
    * accumulated net changes, not N.
    *
    * The returned handle stops it; errors rethrow there. The poll is
    * pure manifest metadata (one trail listing) — an idle tail costs
    * no Spark job. */
  def startCdfConsumer(spark: SparkSession, srcTable: String,
                       mirrorTable: String, key: String,
                       pollIntervalMs: Long = 50L): CdfConsumerHandle = {
    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val scoped = EventStreams.scopedSession(spark)
    val W = graft.operators.Warehouse
    val t = new Thread(() => {
      try {
        var cursor = cdfCursor(mirrorTable)
        while (!stopFlag.get()) {
          val head = W.snapshots(srcTable).lastOption.getOrElse(0L)
          if (head > cursor) {
            consumeWindow(scoped, srcTable, mirrorTable, key, cursor, head)
            cursor = head
          } else Thread.sleep(pollIntervalMs)
        }
      } catch { case e: Throwable => err.set(e) }
    }, s"graft-cdf-consumer-$mirrorTable".replace('/', '_'))
    t.setDaemon(true)
    t.start()
    new CdfConsumerHandle(t, stopFlag, err)
  }

  /** The st31 loop: st28's sharded CDC writer maintains `srcRoot`
    * while the partitioned consumer tails its ROOT versions into
    * `mirrorRoot` — initial sync by deep clone, then incremental
    * maintenance from the feed; same LWW oracle as the other three
    * mechanisms. */
  def runCdfMirrorPartitioned(spark: SparkSession, dir: String,
                              srcRoot: String, mirrorRoot: String,
                              nShards: Int = 4): DataFrame = {
    val W = graft.operators.Warehouse
    val scoped = EventStreams.scopedSession(spark)
    val lastConsumed = new java.util.concurrent.atomic.AtomicLong(0L)
    def tail(): Unit = {
      val head = W.rootSnapshots(srcRoot).lastOption.getOrElse(0L)
      consumeWindowPartitioned(scoped, srcRoot, mirrorRoot, "user_id",
        lastConsumed.get(), head)
      lastConsumed.set(head)
    }
    CdcApply.runShardedCdcStream(scoped, dir, srcRoot, nShards,
      { _ => tail() })
    tail() // drain the trailing fold-only window (nets zero, commits nothing)
    CdcApply.flatState(W.readManifestedPartitioned(scoped, mirrorRoot))
  }

  /** The st30 loop: st27's CDC writer maintains `srcTable` from the
    * event stream while a zero-lag consumer tails its change feed into
    * `mirrorTable`; returns the mirror's final keyed state in flat row
    * form. The mirror must equal the batch event-time-LWW answer — the
    * FOURTH state mechanism (parquet swap / manifested / sharded root /
    * CDF replication) pinned under the one `CdcLwwOracleSql` text, so
    * none of them can drift from the others. */
  def runCdfMirror(spark: SparkSession, dir: String, srcTable: String,
                   mirrorTable: String): DataFrame = {
    val W = graft.operators.Warehouse
    val scoped = EventStreams.scopedSession(spark)
    val lastConsumed = new java.util.concurrent.atomic.AtomicLong(0L)
    def tail(): Unit = {
      val head = W.snapshots(srcTable).lastOption.getOrElse(0L)
      consumeWindow(scoped, srcTable, mirrorTable, "user_id",
        lastConsumed.get(), head)
      lastConsumed.set(head)
    }
    CdcApply.runManifestedCdcStream(scoped, dir, srcTable,
      { (_, _) => tail() })
    // drain: the writer's periodic fold commits land AFTER the hook
    // within their batch — consume the fold-only tail window (nets to
    // zero rows, commits nothing; the cursor still advances)
    tail()
    CdcApply.flatState(W.readManifested(scoped, mirrorTable))
  }
}
