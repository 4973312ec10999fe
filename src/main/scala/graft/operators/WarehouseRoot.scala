package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Partitioned-root operations — internal module of [[Warehouse]]
  * (r18 split, same public API): the leaf walk, root version maps
  * and transition claims, partitioned compaction/delete/merge with
  * partition adoption, partitioned reads and history. */
trait WarehouseRoot { this: Warehouse.type =>

  /** [[compactManifested]] over a partitioned root: walk the `k=v`
    * tree to its leaves ([[manifestLeaves]]) and give each leaf its
    * OWN manifest commit. Returns root-relative leaf path → file count
    * written.
    *
    * Each leaf folds independently (partition values live in the leaf
    * DIRECTORY name and survive untouched), and with a per-leaf
    * manifest trail there is — by the same construction as the
    * single-leaf argument — a complete generation resolvable in every
    * leaf at every instant; [[readManifestedPartitioned]] is the
    * reader that consults them.
    * Contract stays single-WRITER per leaf (writers to different
    * leaves are independent, exactly like every table format's
    * partition-level commit). */
  def compactManifestedPartitioned(spark: SparkSession, rootDir: String,
                                   targetFileBytes: Long = 128L << 20,
                                   retainSnapshots: Int = 1,
                                   retainFor: Option[java.time.Duration] = None,
                                   clusterBy: Option[String] = None,
                                   zorderBy: Seq[String] = Nil,
                                   zorderQuantiles: Boolean = false): Map[String, Int] = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    require(ManifestIo.isDirectory(fs, root),
      s"compactManifestedPartitioned: $rootDir is not a directory")
    val leaves = manifestLeaves(fs, root)
    // compaction has no txn identity; a crashed run's claim is taken
    // over once aged (beginRootTransition) — content-safe, since
    // compaction is content-preserving per leaf and the next map
    // records actual heads
    // contentPreserving: compaction may TAKE OVER an aged crashed
    // legacy (pre-map) mid-transition — folding each leaf at its
    // actual head and publishing the first version map (r17)
    val st = beginRootTransition(fs, root, leaves, None,
      "compactManifestedPartitioned", contentPreserving = true)
    // leaf versions referenced by the SURVIVING root maps must outlive
    // the per-leaf retention GC (r19 ADVICE): an out-of-band leaf fold
    // can advance a leaf several versions inside one root window, so
    // count-window retention alone could GC a version a RETAINED root
    // map still resolves. Pins come only from maps that survive THIS
    // pass's own root retention (count window anchored on st.next —
    // one conservative version when the walk turns out fully steady —
    // or the time window): pinning from about-to-expire maps would
    // hold every leaf's rolled-past generations one pass too long and
    // change the documented GC shape. One read of the (small) map
    // files, before the pooled walk.
    val mapPins: Map[String, Set[Long]] = retained(fs, root, "_root-manifest-",
        rootVersions(fs, root), st.next, retainSnapshots, retainFor)
      .flatMap(v => parseRootMap(ManifestIo.readString(fs,
        new HPath(root, s"_root-manifest-$v"))).toSeq)
      .groupMap(_._1)(_._2).map { case (rel, vs) => rel -> vs.toSet }
    // Phase 1 — STEADY-STATE SKIP, on the bounded pool (r16/r17): a
    // leaf already folded to one data generation (no tombstone trail,
    // no re-layout requested) needs no fold and COMMITS NOTHING —
    // under the version map untouched leaves are simply recorded at
    // their current head, so the periodic compaction under a sharded
    // CDC stream costs O(touched shards), like the merges it folds.
    // The skip still honors the caller's retention knobs (r17): the
    // no-commit [[gcLeafRetention]] ages out manifests/generations a
    // prior fold retained under wider knobs — without it a steady
    // leaf kept one permanently stale snapshot's worth of storage that
    // retainFor/retainSnapshots=0 could never reclaim. Steady checks
    // and the GC are pure FS metadata (head read + list + deletes, no
    // Spark job), independent across leaves — pooled, the walk over
    // thousands of steady shards pays leaves/16 × RTT, not leaves ×.
    val checked = parCommitLeaves(leaves,
      refresh = () => refreshClaim(fs, st, root)) { leaf =>
      val rel = relPath(root, leaf)
      val body = trailHead(fs, leaf).body
      val gens = body.map(parseGens).getOrElse(Seq.empty)
      val steady = gens.size == 1 && gens.head.startsWith(".gen-") &&
        clusterBy.isEmpty && zorderBy.isEmpty
      if (steady) {
        val inv = parseStats(body.get).count(l => l.startsWith("#file:") &&
          metaEntry(l) == gens.head)
        val n =
          if (inv > 0) inv
          else ManifestIo.list(fs, new HPath(leaf, gens.head))
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        val v = withTableLock(leaf) {
          gcLeafRetention(fs, leaf, retainSnapshots, retainFor,
            alsoRetain = mapPins.getOrElse(rel, Set.empty))
        }
        // record the ACTUAL head (r19 ADVICE; was st.prior's version):
        // an out-of-band leaf fold between root ops moves the head
        // without touching the generation count — recording the stale
        // prior published a root map referencing a version the GC
        // above may have just deleted. With actual heads the
        // fully-steady skip below degrades naturally to per-leaf head
        // comparison: any moved head makes map != st.prior and spends
        // a root version recording it.
        Some(rel -> (n, v))
      } else None
    }
    // Phase 2 — folds, sequential: each is a Spark job (scan + write)
    val out = leaves.zip(checked).map {
      case (_, Some(r)) => r
      case (leaf, None) =>
        val rel = relPath(root, leaf)
        val folded = foldLeaf(spark, leaf.toString, targetFileBytes,
          retainSnapshots, retainFor, clusterBy, zorderBy, zorderQuantiles,
          mapPins.getOrElse(rel, Set.empty))
        refreshClaim(fs, st, root)
        rel -> folded
    }
    val map = out.map { case (r, (_, v)) => r -> v }.toMap
    // a fully-steady walk (every leaf skipped, heads unchanged) spends
    // NO root version: periodic maintenance under a live stream must
    // be free when there is nothing to fold — release the claim only
    val skipped = map == st.prior && rootVersions(fs, root).nonEmpty
    if (skipped) ManifestIo.delete(fs, st.claimPath(root))
    else commitRootManifest(fs, root, st, map, None)
    // root-manifest retention mirrors the per-leaf knobs as the SAME
    // union — count window OR time window (r17): a map-managed root
    // refuses any version without a surviving map, so GC'ing a root
    // manifest inside `retainFor` would silently collapse root-level
    // time travel to the count window even while every leaf snapshot
    // it references is still retained. mtime is the commit instant
    // (the PUT instant on an object store), the per-leaf clock. Runs
    // on BOTH paths — a fully-steady walk spends no version but still
    // ages maps out, or a steady table's "retain 0" would never
    // reclaim them (the same storage leak the leaf-side
    // [[gcLeafRetention]] closes).
    val rvs = rootVersions(fs, root)
    val rootHead = if (skipped) rvs.lastOption.getOrElse(0L) else st.next
    val keptMaps = retained(fs, root, "_root-manifest-", rvs, rootHead,
      retainSnapshots, retainFor).toSet
    rvs.filterNot(keptMaps).foreach(v =>
      ManifestIo.delete(fs, new HPath(root, s"_root-manifest-$v")))
    out.map { case (r, (n, _)) => r -> n }.toMap
  }

  /** The `k=v` leaf walk shared by the manifested-partitioned compact
    * and read paths: recurse into visible directories, ONE `LIST` per
    * directory. A manifested leaf's `.gen-*`/`_manifest-*` entries are
    * dot/underscore-prefixed, so it walks as a leaf. */
  private[operators] def manifestLeaves(fs: HFs, d: HPath): Seq[HPath] = {
    // breadth-first on ONE bounded pool per LEVEL (r18): each frontier
    // directory's walk step is one independent LIST, and the whole
    // level lists in a single parCommitLeaves call from THIS thread —
    // at thousands of shards the walk pays leaves/16 × RTT instead of
    // leaves × RTT. (The r17 form recursed parCommitLeaves from inside
    // pool workers: correct for single-level k=v trees, but a 2–3
    // level tree nested a fresh 16-thread pool per non-leaf child —
    // ~16^depth threads, outer workers blocked on inner pools.)
    def step(dir: HPath): Either[HPath, Seq[HPath]] = {
      val sub = ManifestIo.list(fs, dir)
        .filter(st => st.isDirectory &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      if (sub.isEmpty) Left(dir)
      else Right(sub.toSeq.sortBy(_.getPath.getName).map(_.getPath))
    }
    val leaves = Seq.newBuilder[HPath]
    var frontier: Seq[HPath] = Seq(d)
    while (frontier.nonEmpty) {
      val stepped = parCommitLeaves(frontier)(step)
      leaves ++= stepped.collect { case Left(leaf) => leaf }
      frontier = stepped.collect { case Right(kids) => kids }.flatten
    }
    // depth-first lexical order, as before: every consumer zips or
    // maps over this seq, so keep the ordering deterministic and
    // path-sorted regardless of which level a leaf surfaced at
    leaves.result().sortBy(_.toString)
  }

  /** Read a [[compactManifestedPartitioned]] tree: every leaf resolves
    * through its own manifest trail (so a compaction in one leaf is
    * invisible to reads of another, and no leaf is ever absent), with
    * the `k=v` partition values re-attached from the directory names
    * as literal columns — the same VALUES a partition-discovering scan
    * would surface (unescaped with Spark's own path-escaping inverse,
    * so values Spark escaped on write — `%`, `:`, control chars —
    * round-trip, and a literal `+` stays `+`). One CONTRACT
    * difference from a discovering scan, by design: re-attached
    * partition columns are STRING-typed (a discovering scan
    * type-infers `k=7` as int by default) — the stable-schema choice
    * for a reader that unions leaves; cast at the call site when a
    * numeric partition key is wanted. Leaf unions are by name: each
    * leaf carries the same data schema (one writer produced them), and
    * the partition columns are appended uniformly. */
  def readManifestedPartitioned(spark: SparkSession, rootDir: String): DataFrame = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    unionLeaves(fs, root, leaf => readManifested(spark, leaf.toString))
  }

  /** [[readManifestedRange]] over a partitioned root: every leaf
    * opens only the files whose recorded min/max admits the
    * predicate, with the `k=v` partition values re-attached as in
    * [[readManifestedPartitioned]] — composing the two pruning axes a
    * 100 TB read needs: a partition predicate on the returned frame
    * prunes whole leaves out of the plan (the PlanSpec-pinned union-
    * branch elimination), and the manifest stats prune files inside
    * every surviving leaf. */
  def readManifestedPartitionedRange(spark: SparkSession, rootDir: String,
                                     column: String, lower: Any,
                                     upper: Any): DataFrame = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    unionLeaves(fs, root, leaf =>
      readManifestedRange(spark, leaf.toString, column, lower, upper))
  }

  /** [[readManifestedAt]] over a partitioned root. Resolution rule
    * (r16): `version` is a ROOT version — the `_root-manifest-
    * <version>` map names each leaf's recorded manifest version and
    * every leaf reads exactly there (the leaf SET is the map's: a
    * partition added after the snapshot is correctly absent from it).
    * A root never touched by a root-level op has no maps; it falls
    * back to the legacy lockstep rule — every leaf at the SAME leaf
    * version, failing loudly on the first leaf missing it. A
    * map-managed root asked for a version with no surviving map
    * refuses with the retained root versions — never a silently
    * partial or mis-aligned union. */
  def readManifestedPartitionedAt(spark: SparkSession, rootDir: String,
                                  version: Long): DataFrame = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    if (rootVersions(fs, root).isEmpty)
      unionLeaves(fs, root, leaf => readManifestedAt(spark, leaf.toString, version))
    else {
      val map = rootMapAt(fs, root, version, "readManifestedPartitionedAt", rootDir)
      // per-leaf PLAN construction on the bounded pool (r17) — the
      // same O(leaves) sequential driver term unionLeaves shed for
      // live reads applies to the snapshot read's resolution walk
      parCommitLeaves(map.toSeq.sortBy(_._1)) { case (rel, v) =>
        val leaf = new HPath(root, rel)
        withLeafParts(root, leaf, readManifestedAt(spark, leaf.toString, v))
      }.reduceLeft(_.unionByName(_))
    }
  }

  /** The shared partitioned-read shape: per-leaf resolve via `read`,
    * `k=v` partition values re-attached from the directory names (see
    * [[readManifestedPartitioned]] for the unescaping + string-typing
    * contract), leaves unioned by name. Per-leaf PLAN construction
    * (trail-head read + file listing + footer schema) runs on the
    * bounded pool (r16): it is metadata IO, independent across
    * leaves, and sequential it is the dominant driver cost of a read
    * over a many-leaf root — leaves/16 × RTT instead of leaves × RTT. */
  private[operators] def unionLeaves(fs: HFs, root: HPath,
                          read: HPath => DataFrame): DataFrame = {
    val parts = parCommitLeaves(manifestLeaves(fs, root)) { leaf =>
      withLeafParts(root, leaf, read(leaf))
    }
    parts.reduceLeft(_.unionByName(_))
  }

  /** `df` with the leaf's `k=v` partition values appended as literal
    * string columns ([[leafKvs]]) — the one re-attach of every
    * partitioned read and change feed. */
  private[operators] def withLeafParts(root: HPath, leaf: HPath,
                                       df: DataFrame): DataFrame =
    leafKvs(root, leaf).foldLeft(df) { case (acc, (k, v)) => acc.withColumn(k, lit(v)) }

  /** The `k=v` partition (column, value) pairs a leaf's root-relative
    * path carries, unescaped with Spark's own path-escaping inverse
    * (the [[readManifestedPartitioned]] contract: values are STRINGs). */
  private[operators] def leafKvs(root: HPath, leaf: HPath): Seq[(String, String)] =
    root.toUri.relativize(leaf.toUri).getPath.stripSuffix("/")
      .split('/').toSeq.filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(v)
      }

  // ---------------------- root-level version map + transition claim
  // (r16 — supersedes the r15 per-batch LOCKSTEP) Every root-level op
  // (partitioned upsert / delete / compaction) commits per-leaf ONLY
  // in the leaves it touches, then publishes ONE immutable root
  // manifest `_root-manifest-<T>` — a VERSION MAP of `<leafRelPath>:
  // <leafHeadVersion>` lines plus `#txn:` markers, claimed by the same
  // create-exclusive CAS as the per-leaf `_manifest-v` trail. The map
  // replaces lockstep numbering as [[readManifestedPartitionedAt]]'s
  // resolution rule: snapshot T reads every leaf at its RECORDED
  // version, so untouched leaves need no commit at all. That breaks
  // the r15 O(total shards) per-batch commit floor (§6.1o: 0.23
  // s/shard/batch even when a batch touched 3 of 64) — per-batch cost
  // is now O(touched shards) + one root commit, which at the
  // thousands of shards a 100 TB keyed state table carries is the
  // difference between micro-batch latency and minutes of pure commit
  // fan-out. Writer serialization is unchanged in spirit: the
  // transition T+1 is claimed via `_root-claim-(T+1)` BEFORE any leaf
  // commit, so racing root ops serialize as one of the serial orders
  // or refuse loudly; the root-manifest putIfAbsent is the commit
  // point (a crash before it leaves the table AT root version T —
  // the op becomes atomic at the root, which per-batch lockstep never
  // was).

  /** The committed root-manifest versions of a partitioned root,
    * ascending — the root-level [[snapshots]] (empty for a legacy /
    * never-root-committed tree, whose snapshots still resolve by the
    * per-leaf lockstep rule). Resolves the filesystem like
    * [[snapshots]]: the active session's Hadoop conf, else the default
    * session's. */
  def rootSnapshots(dir: String): Seq[Long] = {
    val (fs, root) = ManifestIo.resolve(dir, sessionHconf())
    rootVersions(fs, root)
  }

  private[operators] def rootVersions(fs: HFs, root: HPath): Seq[Long] =
    ManifestIo.list(fs, root)
      .filter(st => st.isFile && st.getPath.getName.startsWith("_root-manifest-"))
      .map(_.getPath.getName.stripPrefix("_root-manifest-").toLong)
      .sorted.toSeq

  /** Root-relative leaf paths recorded by the LAST root version map —
    * None when the root carries no maps yet. The O(1) committed-leaf
    * inventory a sharded-CDC batch reads instead of probing every
    * leaf's head (the same metadata discipline as the `#file:` file
    * inventory: the log IS the listing). A map GC'd between the
    * version list and the read (a concurrent compaction's retention)
    * degrades to None — the caller's per-leaf probe fallback. */
  private[operators] def lastRootMapRels(fs: HFs, root: HPath): Option[Set[String]] =
    rootVersions(fs, root).lastOption.flatMap { v =>
      try Some(parseRootMap(ManifestIo.readString(fs,
        new HPath(root, s"_root-manifest-$v"))).keySet)
      catch { case _: java.io.FileNotFoundException => None }
    }

  /** `<leafRelPath>:<leafVersion>` lines of a root manifest (rel paths
    * are the on-disk escaped form, which never contains a raw ':'). */
  private[operators] def parseRootMap(body: String): Map[String, Long] =
    body.trim.split("\n").toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.lastIndexOf(':')
        l.substring(0, i) -> l.substring(i + 1).toLong
      }.toMap

  /** THE root version-map lookup of every root-versioned op — the
    * partitioned snapshot read, change feed, clone and restore:
    * `_root-manifest-<version>` must exist (else
    * IllegalArgumentException "`<op>`: root version v of `table` is not
    * retained", listing what is); returns its leaf → version map. */
  private[operators] def rootMapAt(fs: HFs, root: HPath, version: Long,
                                   op: String, table: String): Map[String, Long] = {
    val p = new HPath(root, s"_root-manifest-$version")
    if (!ManifestIo.exists(fs, p))
      throw new IllegalArgumentException(
        s"$op: root version $version of $table is not retained " +
          s"(available: ${rootVersions(fs, root).mkString(", ")})")
    parseRootMap(ManifestIo.readString(fs, p))
  }

  private[operators] def rootManifestBody(map: Map[String, Long],
                               txns: Map[String, Long]): String =
    (map.toSeq.sortBy(_._1).map { case (l, v) => s"$l:$v" } ++
      txns.toSeq.sortBy(_._1).map { case (a, v) => s"#txn:$a:$v" })
      .mkString("\n")

  /** The state a root-level op carries between its claim and its
    * commit: the transition version to publish, the PRIOR version map
    * (what untouched leaves are recorded at), the root-level txn
    * markers to carry forward, and whether the whole op is a
    * completed replay (commit nothing). */
  private[operators] case class RootTransition(next: Long, prior: Map[String, Long],
                                    txns: Map[String, Long],
                                    fullReplay: Boolean) {
    def claimPath(root: HPath): HPath = new HPath(root, s"_root-claim-$next")
  }

  /** Begin a root-level transition: resolve the root head, detect
    * replays, claim `T+1`. Map-managed roots need ONE root-manifest
    * read — no per-leaf listing (the O(touched) contract). A root with
    * no root manifest yet MIGRATES: its leaves must be lockstep (the
    * r15 contract it is leaving), their common head anchors the root
    * version line, and — so pre-migration snapshots stay addressable —
    * an ANCHOR manifest `_root-manifest-T0` recording the walked heads
    * is committed when T0 ≥ 1. Crashed-op recovery:
    *
    *  - our own txn's claim → resume (per-leaf markers no-op the
    *    committed leaves; the root manifest then records actuals).
    *  - a FRESH foreign claim → ConcurrentModificationException before
    *    any leaf commit.
    *  - an AGED foreign claim (older than `takeoverGraceMs`) → TAKE
    *    OVER: delete + re-claim (r16 — a crashed no-txn root op no
    *    longer blocks until a manual vacuum; content safety holds
    *    because the next map records actual leaf heads, and a LIVE op
    *    refreshes its claim's mtime per leaf commit, so only true
    *    corpses age).
    *  - a claim whose transition already committed (we raced a winner
    *    that deleted its claim after publishing) → re-checked after
    *    the claim succeeds: the root head moved past our anchor, so
    *    release and refuse — never leaf-commit under a stale claim. */
  private[operators] def beginRootTransition(fs: HFs, root: HPath, leaves: Seq[HPath],
                                  txn: Option[(String, Long)], op: String,
                                  takeoverGraceMs: Long = DefaultVacuumGraceMs,
                                  contentPreserving: Boolean = false): RootTransition = {
    val mine = txn.map { case (a, v) => s"$a:$v" }
    // claim file body: the owner line (txn identity or "-"), then a
    // UNIQUE per-attempt token line (r19 ADVICE) — what lets a
    // takeover verify the file it moved aside is the corpse it
    // aged-checked, not a rival's fresh re-claim
    def claimBody(): String =
      s"${mine.getOrElse("-")}\n#claim-token:${java.util.UUID.randomUUID()}"
    def ownerLine(body: String): String =
      body.linesIterator.nextOption().getOrElse("")
    def tokenLine(body: String): Option[String] =
      body.linesIterator.find(_.startsWith("#claim-token:"))
    def claim(next: Long): Unit = {
      val c = new HPath(root, s"_root-claim-$next")
      def refuse(owner: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"$op: transition to version $next of $root is claimed by " +
            s"'$owner' — a concurrent root-level writer; retry after it " +
            "completes (an aged crashed claim is taken over automatically)")
      def refuseCurrent(): Nothing =
        refuse(try ownerLine(ManifestIo.readString(fs, c))
          catch { case _: java.io.FileNotFoundException => "?" })
      if (!ManifestIo.putIfAbsent(fs, c, claimBody())) {
        val owner =
          try Some(ManifestIo.readString(fs, c))
          catch { case _: java.io.FileNotFoundException => None }
        if (owner.isDefined && mine.isDefined && owner.map(ownerLine) == mine) ()
        else {
          val aged = owner.isEmpty || ManifestIo.mtime(fs, c)
            .forall(_ < System.currentTimeMillis() - takeoverGraceMs)
          if (!aged) refuse(owner.map(ownerLine).getOrElse("?"))
          // takeover moves the corpse aside by RENAME + token verify,
          // never delete+re-claim (r19 ADVICE): two rivals that both
          // observed the aged corpse race here, and a delete window
          // let the slower rival delete the faster one's FRESH claim
          // — two walkers under one transition. The rename is
          // source-exclusive (exactly one concurrent rival's rename
          // succeeds), and the token verify catches the SLOW-rival
          // shape the rename alone cannot: a rival that re-claimed
          // between our aged check and our rename — we just moved a
          // LIVE claim, so restore it and refuse. The corpse name is
          // dot-prefixed (invisible to Spark discovery and to the
          // `_root-claim-` GC parser); a crash strands at most one
          // tiny file, swept by [[vacuumPartitioned]]'s aged-debris
          // pass.
          val corpse = new HPath(root, s".claim-corpse-$next-" +
            s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
          val tookOver =
            try fs.rename(c, corpse)
            catch { case _: java.io.FileNotFoundException => false }
          if (!tookOver) refuseCurrent()
          val moved =
            try Some(ManifestIo.readString(fs, corpse))
            catch { case _: java.io.FileNotFoundException => None }
          if (moved.flatMap(tokenLine) != owner.flatMap(tokenLine)) {
            // not the corpse we aged-checked: a rival took over and
            // re-claimed in between — put its live claim back
            fs.rename(corpse, c)
            refuse(moved.map(ownerLine).getOrElse("?"))
          }
          ManifestIo.delete(fs, corpse)
          if (!ManifestIo.putIfAbsent(fs, c, claimBody()))
            refuseCurrent()
        }
      }
      // stale-anchor re-check: a winner that already PUBLISHED next
      // deletes its claim, so our create-exclusive can succeed for a
      // transition that is history — verify the head is still behind
      // the claim before any leaf commit
      if (rootVersions(fs, root).lastOption.exists(_ >= next)) {
        ManifestIo.delete(fs, c)
        throw new java.util.ConcurrentModificationException(
          s"$op: transition $next of $root already committed by a " +
            "concurrent writer — re-read and retry")
      }
    }
    rootVersions(fs, root).lastOption match {
      case Some(t) =>
        val body = ManifestIo.readString(fs, new HPath(root, s"_root-manifest-$t"))
        val prior = parseRootMap(body)
        val txns = parseTxns(body)
        val fullReplay =
          txn.exists { case (app, ver) => txns.get(app).exists(_ >= ver) }
        if (!fullReplay) claim(t + 1)
        RootTransition(t + 1, prior, txns, fullReplay)
      case None =>
        // migration from the lockstep scheme: one per-leaf walk (only
        // ever paid once per root)
        val heads = leaves.map(l => l -> trailHead(fs, l))
        val headMap = heads.map { case (l, h) => relPath(root, l) -> h.version }.toMap
        val vMin = headMap.values.min
        val vMax = headMap.values.max
        val fullReplay = txn.exists { case (app, ver) =>
          heads.forall(_._2.body.exists(b =>
            parseTxns(b).get(app).exists(_ >= ver)))
        }
        if (fullReplay) RootTransition(vMax, headMap, Map.empty, fullReplay = true)
        else if (vMax == vMin) {
          if (vMin >= 1) {
            // the anchor: pre-migration lockstep state, root-addressable
            ManifestIo.putIfAbsent(fs, new HPath(root, s"_root-manifest-$vMin"),
              rootManifestBody(headMap, Map.empty))
            ()
          }
          claim(vMin + 1)
          RootTransition(vMin + 1, headMap, Map.empty, fullReplay = false)
        } else if (vMax == vMin + 1) {
          // a crashed r15-era (or crashed migrating) op: resumable by
          // the owning txn (the pre-map rule), or — r17 — taken over
          // by a CONTENT-PRESERVING no-txn op (compaction) once the
          // crashed claim has aged, the same grace discipline as the
          // map-managed takeover above. The takeover freezes the
          // crashed op's half-applied state into the first root
          // version map (each leaf at its ACTUAL head) — honest for
          // an op that carried no replay identity: nobody can ever
          // resume it, and without the takeover the root refused
          // every non-owning writer forever. A FRESH claim still
          // refuses (a live migrating op), and a txn-carrying op
          // (delete/upsert — they ADD content, a takeover would
          // publish someone else's torn write as theirs) still
          // requires ownership.
          val c = new HPath(root, s"_root-claim-$vMax")
          val owner =
            try Some(ownerLine(ManifestIo.readString(fs, c)))
            catch { case _: java.io.FileNotFoundException => None }
          if (mine.isDefined && owner == mine)
            RootTransition(vMax, headMap, Map.empty, fullReplay = false)
          else if (contentPreserving && mine.isEmpty) {
            claim(vMax) // absent/aged → takeover; fresh → refuse (CME)
            RootTransition(vMax, headMap, Map.empty, fullReplay = false)
          } else
            throw new IllegalStateException(
              s"$op: $root is mid-transition to version $vMax (leaves " +
                s"span $vMin..$vMax; claim ${owner.getOrElse("missing")}) — " +
                "only the owning txn may resume it; once the claim ages " +
                "past the takeover grace, compactManifestedPartitioned " +
                "migrates the root to a version map at the leaves' " +
                "actual heads")
        } else if (contentPreserving && mine.isEmpty) {
          // arbitrary legacy drift (leaves bumped by out-of-band
          // per-leaf writers, never a root op): under the version map
          // this state is REPRESENTABLE, not broken — a content-
          // preserving op migrates it by recording each leaf at its
          // ACTUAL head (r17; the same stance the mapped path takes
          // when a leaf-level writer bumps one leaf between root ops).
          // claim() still refuses a FRESH rival and takes over only
          // aged corpses. Txn ops keep refusing below: there is no
          // lockstep history for their replay rule to anchor on.
          claim(vMax)
          RootTransition(vMax, headMap, Map.empty, fullReplay = false)
        } else
          throw new IllegalStateException(
            s"$op: legacy leaves of $root drifted off lockstep (versions " +
              s"$vMin..$vMax) with no root manifest to anchor a migration — " +
              "run compactManifestedPartitioned (content-preserving: it " +
              "migrates the root to a version map at the leaves' actual " +
              "heads), or commit a root manifest by hand")
    }
  }

  /** Refresh the claim's mtime — the liveness heartbeat a long root
    * op emits per chunk of leaf commits, so the aged-claim takeover
    * and [[vacuumPartitioned]]'s grace only ever fire on true
    * corpses, never on a live walk that outlives the grace (a
    * partitioned op over thousands of shards legitimately does).
    * Deliberately `setTimes`, NOT a rewrite: a delete+rename rewrite
    * has a claim-ABSENT window on hdfs/object-store schemes in which
    * a rival's create-exclusive could steal a LIVE claim. A store
    * that ignores setTimes simply doesn't heartbeat — size
    * `takeoverGraceMs` above the longest expected walk there (the
    * race endpoint stays LOUD either way: two writers at one
    * transition collide on the root-manifest CAS with different
    * content). */
  private[operators] def refreshClaim(fs: HFs, st: RootTransition, root: HPath): Unit =
    if (!st.fullReplay)
      try { fs.setTimes(st.claimPath(root), System.currentTimeMillis(), -1); () }
      catch { case _: java.io.IOException | _: UnsupportedOperationException => }

  /** Publish the transition: putIfAbsent `_root-manifest-<next>` (the
    * commit point — a reader of [[readManifestedPartitionedAt]] sees
    * the table at T or at T+1, never a half-applied map), then drop
    * the claim. A lost putIfAbsent with IDENTICAL body is our own
    * completed replay (benign); different content under our claim is
    * a broken invariant and refuses loudly. */
  private[operators] def commitRootManifest(fs: HFs, root: HPath, st: RootTransition,
                                 map: Map[String, Long],
                                 txn: Option[(String, Long)]): Unit = {
    val txns = txn.fold(st.txns) { case (a, v) => st.txns + (a -> v) }
    val body = rootManifestBody(map, txns)
    val p = new HPath(root, s"_root-manifest-${st.next}")
    if (!ManifestIo.putIfAbsent(fs, p, body) &&
        ManifestIo.readString(fs, p) != body)
      throw new java.util.ConcurrentModificationException(
        s"root manifest ${st.next} of $root was committed with different " +
          "content under this writer's claim — claim discipline violated")
    ManifestIo.delete(fs, st.claimPath(root))
  }

  /** THE root transition of every partitioned write but compaction
    * (which keeps its own publish for its steady-skip and root
    * retention): claim `T+1` ([[beginRootTransition]]), run the leaf
    * commits `plan` returns on the bounded pool with the claim
    * heartbeat between chunks ([[refreshClaim]]), publish the version
    * map of the leaf heads they return ([[commitRootManifest]]).
    * `plan` runs under the claim — staging writes happen only once the
    * transition is ours — and each of its thunks commits (or skips)
    * one leaf, returning (rel path, the leaf's head version, the op's
    * per-leaf result). A completed replay runs no plan and publishes
    * nothing (`fullReplay`, empty results). */
  private[operators] def rootTransition[R](fs: HFs, root: HPath, leaves: Seq[HPath],
      txn: Option[(String, Long)], op: String)(
      plan: RootTransition => Seq[() => (String, Long, R)]): (RootTransition, Seq[(String, Long, R)]) = {
    val st = beginRootTransition(fs, root, leaves, txn, op)
    if (st.fullReplay) (st, Seq.empty)
    else {
      val out = parCommitLeaves(plan(st), refresh = () => refreshClaim(fs, st, root))(_())
      commitRootManifest(fs, root, st, out.map(o => o._1 -> o._2).toMap, txn)
      (st, out)
    }
  }

  /** THE pooled leaf creation of the root writers — the partitioned
    * MERGE's partition adoption and the sharded CDC bootstrap: probe
    * which `leaves` hold no committed head, write ONE schema-bearing
    * empty template from `schema` (`limit(0).repartition(1)` — limit(0)
    * alone has zero partitions and writes no part file), then
    * [[adoptLeaf]] each missing leaf on the bounded pool with the
    * caller's claim heartbeat `refresh` between chunks; created leaves
    * inherit `inherit` (the root's `#constraint:` lines). One Spark job
    * and O(missing) driver FS calls — creation stays cheap at
    * thousands of shards. Returns the leaves found missing, in order.
    *
    * The probe is the committed HEAD ([[trailHead]]), never the
    * directory: a crashed prior creation leaves a directory without a
    * commit (re-creating it must converge). With `mapped`, a leaf the
    * root's last version map records counts as committed — ONE map
    * read replaces a head probe per leaf (r17; the sharded CDC's
    * per-batch fast path at thousands of shards). A leaf created by a
    * crashed run is in no map yet, so it is still probed. */
  private[graft] def createLeaves(spark: SparkSession, fs: HFs, root: HPath,
                                  leaves: Seq[HPath], schema: DataFrame,
                                  inherit: Seq[String] = Nil,
                                  mapped: Boolean = false,
                                  refresh: () => Unit = () => ()): Seq[HPath] = {
    val inMap = if (mapped) lastRootMapRels(fs, root).getOrElse(Set.empty[String])
      else Set.empty[String]
    val missing = parCommitLeaves(leaves.filterNot(l => inMap.contains(relPath(root, l))),
      refresh = refresh)(l => l -> trailHead(fs, l).body.isEmpty)
      .collect { case (l, true) => l }
    if (missing.nonEmpty) {
      val tmpl = new HPath(root,
        s".adopt-template-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      schema.limit(0).repartition(1).write.mode("overwrite").parquet(tmpl.toString)
      val part = ManifestIo.list(fs, tmpl)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .head.getPath
      parCommitLeaves(missing, refresh = refresh) { leaf =>
        adoptLeaf(fs, hconf(spark), leaf, Some(part), inherit, sharedCreate = true)
      }
      ManifestIo.delete(fs, tmpl)
    }
    missing
  }

  // ------------------------------- partitioned row-level ops (r14/r16)
  // The row-level commits above are leaf-scoped; a 100 TB table is a
  // PARTITIONED root, and "delete these keys" must not require hand-
  // iterating leaves. Each op below is a [[rootTransition]] whose leaf
  // commits run ONLY where it has work, each one its leaf-scoped
  // form's commit step ([[tombstoneCommit]], [[mergeCommit]]) with the
  // files placed from a once-written stage. At 100 TB the per-leaf
  // commits are embarrassingly parallel (no two leaves share state —
  // the sequential walk here becomes a foreachPartition over leaf
  // names running the same rename+CAS sequence; they are pure FS ops,
  // no Spark jobs).

  /** [[deleteManifested]] over a partitioned root: ONE tombstone
    * commit per leaf, all carrying the same key set — a key lives in
    * whichever leaf its row was routed to, so the tombstone must reach
    * every leaf (the delete set is O(keys) per leaf, never a data
    * rewrite). The key set is WRITTEN ONCE to a root-local staging dir
    * (one Spark job) and FS-copied into each leaf's `.del-<id>` — per
    * delete the Spark-job count is O(1) and per-leaf cost is pure
    * filesystem ops, the same write-once shape as the partitioned
    * MERGE. The transition publishes one root version map (r16);
    * returns root-relative leaf path → the leaf's committed tombstone
    * id (-1 = replay no-op on that leaf). With `txn` a crashed
    * partitioned delete is RESUMABLE: the replay no-ops the leaves
    * whose marker already records it and tombstones the rest. */
  def deleteManifestedPartitioned(spark: SparkSession, rootDir: String,
                                  keys: DataFrame,
                                  txn: Option[(String, Long)] = None): Map[String, Long] = {
    val op = "deleteManifestedPartitioned"
    require(keys.columns.length == 1,
      s"$op: keys must be exactly the key column, got ${keys.columns.mkString(", ")}")
    requireTxnAppId(op, txn)
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    require(ManifestIo.isDirectory(fs, root), s"$op: $rootDir is not a directory")
    val leaves = manifestLeaves(fs, root)
    // key probe BEFORE the root claim (r17), once per ROOT (leaves
    // share one schema): a typo'd key column must throw while nothing
    // is claimed — probing after would strand `_root-claim-(T+1)` and
    // block every root op on the table until the takeover grace
    leaves.headOption.foreach { leaf =>
      requireKeyColumn(spark, leaf, trailHead(fs, leaf).body.getOrElse(
        throw new IllegalArgumentException(s"$op: $leaf has no committed table")),
        keys.columns.head, op, rootDir)
    }
    val stage = new HPath(root,
      s".delete-stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    val (st, out) = rootTransition(fs, root, leaves, txn, op) { _ =>
      // stage the key set once; per-leaf commits copy its files
      keys.distinct().write.mode("overwrite").parquet(stage.toString)
      val parts = ManifestIo.list(fs, stage)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq
      leaves.map(leaf => () => {
        val (id, v) = tombstoneCommit(fs, leaf, op, txn) { del =>
          if (ManifestIo.exists(fs, del)) ManifestIo.delete(fs, del)
          fs.mkdirs(del)
          parts.foreach(p => org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
            new HPath(del, p.getName), false, hconf(spark)))
        }
        (relPath(root, leaf), v, id)
      })
    }
    if (st.fullReplay) leaves.map(l => relPath(root, l) -> -1L).toMap
    else {
      ManifestIo.delete(fs, stage)
      out.map(o => o._1 -> o._3).toMap
    }
  }

  /** [[upsertManifested]] over a partitioned root — MERGE INTO the
    * partitioned table: `source` carries the partition column(s) (the
    * `k=v` names of the leaf directories) plus the leaf schema; rows
    * route to their leaf by partition value (string-compared — the
    * [[readManifestedPartitioned]] typing contract) and each TOUCHED
    * leaf gets one atomic tombstone+generation commit for its slice.
    * Untouched leaves commit NOTHING (r16): the published root
    * version map records them at their prior head, which is what
    * keeps [[readManifestedPartitionedAt]] resolvable at every root
    * version while per-batch commit cost stays O(touched shards) —
    * the r15 lockstep scheme paid an empty tombstone+generation pair
    * in every untouched leaf, the measured O(total shards) floor.
    *
    * A source partition value with NO existing leaf CREATES it (r17 —
    * partition adoption, what a real MERGE does when a new `lang=`
    * value arrives in a CDC feed): the missing leaves are
    * created by [[createLeaves]] (one Spark job total, then pure-FS
    * adoption + v1 commit per leaf on the bounded pool) UNDER THE SAME
    * ROOT CLAIM as the data commits, so creation
    * and first data land in ONE root version — a reader at T-1 never
    * sees the partition, a reader at T sees it with its rows. Two
    * concurrent writers introducing the same new partition serialize
    * at the root claim; the loser's retry finds the leaf committed
    * and its creation no-ops on the v1 CAS. A missing key/partition
    * column refuses loudly BEFORE the claim. One documented
    * non-contract: a key whose PARTITION VALUE changed is an insert
    * into the new leaf only — the old leaf's copy survives, because
    * the tombstone for a slice carries only that slice's keys (the
    * identity-partitioning contract of every partitioned table format;
    * migrate keys with [[deleteManifestedPartitioned]] + upsert).
    * Returns root-relative leaf path → the leaf's committed version.
    *
    * With `txn` (the [[upsertManifested]] exactly-once contract,
    * applied per leaf) a partitioned merge is also RESUMABLE: a crash
    * after some leaves committed leaves the root claim held and no
    * root manifest published, and the replay no-ops exactly the
    * leaves that already carry the marker while applying the rest —
    * then publishes the map once, never double-applying a leaf. */
  def upsertManifestedPartitioned(spark: SparkSession, rootDir: String,
                                  source: DataFrame, keyCol: String,
                                  txn: Option[(String, Long)] = None): Map[String, Long] = {
    requireTxnAppId("upsertManifestedPartitioned", txn)
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    require(ManifestIo.isDirectory(fs, root),
      s"upsertManifestedPartitioned: $rootDir is not a directory")
    val leaves = manifestLeaves(fs, root).map(l => l -> leafKvs(root, l))
    val colSets = leaves.map(_._2.map(_._1)).distinct
    require(colSets.size == 1,
      s"upsertManifestedPartitioned: leaves disagree on partition " +
        s"columns: $colSets")
    val pcols = colSets.head
    require(pcols.nonEmpty,
      s"upsertManifestedPartitioned: $rootDir has no k=v leaves — " +
        "it is a plain leaf; use upsertManifested")
    (pcols :+ keyCol).foreach(c => require(source.columns.contains(c),
      s"upsertManifestedPartitioned: source has no column '$c' " +
        s"(columns: ${source.columns.mkString(", ")})"))
    // key probe BEFORE the root claim (r17), once per ROOT (leaves
    // share one schema — the uniform-writer contract): a typo'd key
    // column must throw while nothing is claimed — probing after
    // would strand `_root-claim-(T+1)` and block every root op on
    // the table until the takeover grace passes
    leaves.headOption.foreach { case (leaf, _) =>
      requireKeyColumn(spark, leaf, trailHead(fs, leaf).body.getOrElse(""), keyCol,
        "upsertManifestedPartitioned", rootDir)
    }
    // one materialization of the source; every leaf's two writes
    // (tombstone keys + data) filter the cut, not the original plan
    val cut = eagerCut(source)
    // CHECK constraints, validated against every DISTINCT constraint
    // set found across the leaves (r20 ADVICE — was first-leaf-only,
    // which made the gate's presence depend on directory-listing
    // order when one leaf missed an add) before any staging write.
    // Steady state — one shared set, the uniform-writer contract now
    // enforceable via addCheckConstraintPartitioned — costs one
    // O(batch) job, zero when unconstrained; drifted leaves validate
    // against each distinct set, so a row violating ANY leaf's
    // constraint refuses. Head reads pooled, O(leaves) like the
    // walk that produced them.
    val consSets = parCommitLeaves(leaves.map(_._1)) { leaf =>
      trailHead(fs, leaf).body.map(h => constraintLines(h).sorted)
        .getOrElse(Seq.empty)
    }.filter(_.nonEmpty).distinct
    consSets.foreach { set =>
      requireConstraints(Some(set.mkString("\n")), cut,
        "upsertManifestedPartitioned",
        leaves.headOption.map(l =>
          readManifested(spark, l._1.toString).schema)
          .getOrElse(org.apache.spark.sql.types.StructType(Nil)))
    }
    // what an ADOPTED leaf inherits below: the union of the live sets
    // (table state follows the table, not the accident of which leaf
    // existed first) — already validated against this batch above.
    // Refuse LOUDLY when drifted leaves carry the same constraint NAME
    // with different predicates: parseConstraints is a Map, so writing
    // both lines would silently keep only the last — one predicate
    // dropped without error (r20 ADVICE).
    val consInherit = consSets.flatten.distinct
    consInherit.groupBy(l => l.stripPrefix("#constraint:").takeWhile(_ != ':'))
      .foreach { case (n, ls) =>
        require(ls.size == 1,
          s"upsertManifestedPartitioned: leaves of $rootDir disagree on " +
            s"constraint '$n' (${ls.size} distinct predicates) — " +
            "reconcile with drop/addCheckConstraintPartitioned before " +
            "writes that adopt new leaves")
      }
    // routing: the distinct partition combos are touched-leaf-bounded
    // (the same cardinality as the walk itself), so this collect is
    // as bounded as listing the directories was. A NULL or EMPTY
    // partition value maps to the Hive default-partition sentinel
    // (r18) — the SAME name the staging `partitionBy` writes such
    // rows under — so the adoption probe, leaf routing and the staged
    // tree agree on one directory instead of the probe NPE-ing on
    // escapePathName(null) while the stage files the row elsewhere.
    val defaultPart = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val combos = cut.select(pcols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => pcols.indices.map { i =>
        val v = r.getString(i)
        if (v == null || v.isEmpty) defaultPart else v
      }.toSeq).toSeq
      .distinct // null and '' fold to ONE sentinel combo, not two
    def leafFor(combo: Seq[String]): HPath =
      pcols.zip(combo).foldLeft(root) { case (acc, (k, v)) =>
        val dir = if (v == defaultPart) v
          else org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(v)
        new HPath(acc, s"$k=$dir")
      }
    val stage = new HPath(root,
      s".upsert-stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    val (st, out) = rootTransition(fs, root, leaves.map(_._1), txn,
        "upsertManifestedPartitioned") { st =>
      // PARTITION ADOPTION (r17): the combos whose leaf holds no
      // committed head are created under THIS claim ([[createLeaves]] —
      // the schema template is the source minus the partition columns,
      // and each created leaf inherits the root's constraint set), so
      // creation and the slice's data commit land in ONE root version
      val byLeaf = combos.map(c => leafFor(c) -> pcols.zip(c))
      val created = createLeaves(spark, fs, root, byLeaf.map(_._1),
        cut.drop(pcols: _*), consInherit,
        refresh = () => refreshClaim(fs, st, root)).toSet
      val adopted = byLeaf.filter(b => created.contains(b._1))
      // the commit walk covers walked + adopted leaves exactly once (a
      // half-created directory appears in both — the adopted entry wins)
      val allLeaves = {
        val createdPaths = adopted.map(_._1.toString).toSet
        leaves.filterNot { case (l, _) => createdPaths.contains(l.toString) } ++
          adopted
      }
      // STAGE ONCE, MOVE PER TOUCHED LEAF (r15/r16): two partitionBy
      // jobs write every NON-EMPTY slice's data and tombstone key set
      // under a root-local dot-prefixed staging dir (invisible to
      // discovery and the leaf walk). Each touched leaf's commit is two
      // renames + one CAS'd manifest claim; an UNTOUCHED leaf commits
      // NOTHING — the root version map records it at its prior head
      // (r16; the r15 lockstep scheme committed an empty tombstone +
      // generation pair to every one of them, the measured O(total
      // shards) per-batch floor of §6.1o). Per-merge Spark jobs are
      // O(1) and per-batch commit cost O(touched shards) + one root
      // manifest. A crash mid-walk strands only the staging dir (aged
      // `.upsert-stage-*` is vacuumPartitioned food) and partially-
      // committed leaves that the txn replay converges.
      val dataStage = new HPath(stage, "data")
      val keyStage = new HPath(stage, "keys")
      cut.write.partitionBy(pcols: _*).mode("overwrite")
        .parquet(dataStage.toString)
      cut.select((pcols :+ keyCol).map(c => col(c)): _*).distinct()
        .write.partitionBy(pcols: _*).mode("overwrite")
        .parquet(keyStage.toString)
      def staged(stageRoot: HPath, kvs: Seq[(String, String)]): HPath =
        kvs.foldLeft(stageRoot) { case (acc, (k, v)) =>
          new HPath(acc, s"$k=${org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(v)}")
        }
      // the TOUCHED slice set from ONE staging walk (r17): per-leaf
      // existence stats against the stage were the last O(all leaves)
      // FS term per merge batch — the staged tree holds exactly the
      // non-empty slices, and its dir names carry the same partitionBy
      // escaping as the leaf walk, so the rel paths compare directly
      val touched: Set[String] =
        manifestLeaves(fs, dataStage).filter(_ != dataStage)
          .map(l => relPath(dataStage, l)).toSet
      allLeaves.map { case (leaf, kvs) => () =>
        val rel = relPath(root, leaf)
        // only a leaf the prior map does not name reads its head: the
        // map records a committed version, never a blank claim's
        if (!touched.contains(rel))
          (rel, st.prior.getOrElse(rel, trailHead(fs, leaf).version), ())
        else
          (rel, mergeCommit(spark, fs, leaf, "upsertManifestedPartitioned", txn) {
            (del, gen) =>
              // orphan dirs under the target names (a crashed prior
              // attempt — the ids are head-derived, so a replay
              // recomputes them) are cleared, never silently merged into
              Seq(del, gen).foreach(d => if (ManifestIo.exists(fs, d)) ManifestIo.delete(fs, d))
              ManifestIo.rename(fs, staged(keyStage, kvs), del)
              ManifestIo.rename(fs, staged(dataStage, kvs), gen)
          }, ())
      }
    }
    if (st.fullReplay)
      leaves.map { case (leaf, _) =>
        val rel = relPath(root, leaf)
        rel -> st.prior.getOrElse(rel, trailHead(fs, leaf).version) // as above
      }.toMap
    else {
      ManifestIo.delete(fs, stage)
      out.map(o => o._1 -> o._2).toMap
    }
  }

  /** DESCRIBE HISTORY of the ROOT version-map line (r16): one row per
    * retained `_root-manifest-<T>` — the map entries, how many leaves
    * the transition actually touched (vs the prior map), the commit
    * instant, and the root-level txn markers. The audit companion to
    * [[readManifestedPartitionedAt]]: its `version` column is exactly
    * what that call accepts; `n_touched` is the O(touched) contract
    * made visible per commit. Root metadata is map-sized by design —
    * a driver-side listing, like [[history]]. */
  def rootHistory(spark: SparkSession, rootDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    val versions = rootVersions(fs, root)
    val bodies = versions.flatMap { v =>
      val p = new HPath(root, s"_root-manifest-$v")
      try Some((v, ManifestIo.readString(fs, p),
        fs.getFileStatus(p).getModificationTime))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val rows = bodies.zipWithIndex.map { case ((v, body, mtime), i) =>
      val map = parseRootMap(body)
      val prior = if (i == 0) Map.empty[String, Long]
        else parseRootMap(bodies(i - 1)._2)
      val touched = map.count { case (l, x) => !prior.get(l).contains(x) }
      org.apache.spark.sql.Row(v,
        map.toSeq.sortBy(_._1).map { case (l, x) => s"$l:$x" }.mkString(","),
        map.size.toLong, touched.toLong,
        new java.sql.Timestamp(mtime),
        parseTxns(body).toSeq.sortBy(_._1)
          .map { case (a, x) => s"$a:$x" }.mkString(","))
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, leaf_versions STRING, n_leaves BIGINT, " +
          "n_touched BIGINT, commit_ts TIMESTAMP, txns STRING"))
  }

  /** [[history]] over a partitioned root: the per-leaf DESCRIBE
    * HISTORY rows with the root-relative leaf path prepended — the
    * audit view of O(touched) commits (a leaf untouched by recent
    * root ops shows a shorter trail; the root version maps record
    * where each snapshot reads it). */
  def historyPartitioned(spark: SparkSession, rootDir: String): DataFrame = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    require(ManifestIo.isDirectory(fs, root),
      s"historyPartitioned: $rootDir is not a directory")
    parCommitLeaves(manifestLeaves(fs, root)) { leaf =>
      history(spark, leaf.toString)
        .select(lit(relPath(root, leaf)).as("leaf"), col("*"))
    }.reduceLeft(_.unionByName(_))
  }
}
