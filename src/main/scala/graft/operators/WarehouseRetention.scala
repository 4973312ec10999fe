package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Retention and vacuum — internal module of [[Warehouse]] (r18
  * split, same public API): the steady-path retention GC and the
  * leaf/root vacuum passes with their in-flight grace discipline. */
trait WarehouseRetention { this: Warehouse.type =>

  /** THE retention window of every trail GC — a leaf fold's, the
    * steady-skip GC's, and the root maps' (their pins and their GC):
    * version `x` of `versions` survives inside the COUNT window (`x >=
    * anchor - retainSnapshots`), or when pinned, or inside the TIME
    * window (`retainFor`, against the `<prefix><x>` file's commit mtime
    * — on an object store the PUT instant, exactly what Delta's
    * log-cleanup clock uses; a file gone mid-walk is outside it). The
    * count knob is the reader grace window; the time knob is the
    * operator-facing "keep 7 days" retention — they compose as a
    * union, like Iceberg's min-snapshots-to-keep + max-snapshot-age
    * pair. Returns the surviving versions.
    *
    * CLOCK-SKEW caveat (shared with the vacuum grace — the same caveat
    * Delta documents for its log-cleanup clock): the cutoff compares
    * THIS writer's wall clock against STORAGE mtimes; skew between the
    * writer host and the store (or between two writers) eats into the
    * window symmetrically. Size retainFor/graceMs with the deployment's
    * worst-case skew as padding — the 1 h default grace is the only
    * thing protecting a live cross-process writer's in-flight commit. */
  private[operators] def retained(fs: HFs, root: HPath, prefix: String,
                                  versions: Seq[Long], anchor: Long,
                                  retainSnapshots: Int,
                                  retainFor: Option[java.time.Duration],
                                  pins: Set[Long] = Set.empty): Seq[Long] = {
    val cutoff = retainFor.map(d => System.currentTimeMillis() - d.toMillis)
    versions.filter(x => x >= anchor - retainSnapshots || pins.contains(x) ||
      cutoff.exists(c => ManifestIo.mtime(fs, new HPath(root, s"$prefix$x")).exists(_ >= c)))
  }

  /** THE retention GC of a leaf's trail ([[retained]]'s window over its
    * `_manifest-*` versions): expired manifests and the
    * generation/tombstone dirs only they reference are deleted. Pure
    * FS metadata work — no Spark job, no manifest version spent.
    * Returns the anchor. Caller holds the table lock; one maintainer
    * per leaf across processes.
    *
    *  - Without `fold` (the steady-skip companion, r17) the window is
    *    anchored on the CURRENT head — exactly the shape a fold at the
    *    head left behind, so a freshly-folded leaf is a no-op — and
    *    nothing is touched unless a version expired.
    *  - With `fold = Some((v, entries))` the window is anchored on the
    *    version `v` the fold committed, `entries` are kept too (the
    *    pre-fold list, the reader grace set), and the sweep always runs.
    *
    * A dir referenced ONLY by expired manifests was committed once and
    * is plain retention food — deletable now; a dir referenced by NO
    * manifest at all may be a live cross-process appender's in-flight
    * (not-yet-committed) generation, so it gets the vacuum mtime grace
    * instead of an instant delete (r18; an aged true orphan falls to
    * this sweep or vacuum).
    *
    * `alsoRetain` (r19): leaf versions referenced by RETAINED root
    * version maps — an out-of-band leaf-level fold can advance a leaf
    * several versions inside one root window, putting a root-map-
    * referenced version below the count window; GC'ing it would leave
    * a retained root snapshot resolving to a deleted leaf manifest
    * ([[readManifestedPartitionedAt]] throws). The partitioned walk
    * passes the union of its surviving maps' entries for this leaf. */
  private[operators] def gcLeafRetention(fs: HFs, leaf: HPath, retainSnapshots: Int,
                              retainFor: Option[java.time.Duration],
                              alsoRetain: Set[Long] = Set.empty,
                              fold: Option[(Long, Seq[String])] = None): Long = {
    val vs = manifestVersions(fs, leaf)
    val anchor = fold.fold(vs.lastOption.getOrElse(0L))(_._1)
    val kept = retained(fs, leaf, "_manifest-", vs, anchor, retainSnapshots,
      retainFor, alsoRetain)
    val expired = vs.filterNot(kept.contains)
    if (fold.isDefined || expired.nonEmpty) {
      def entriesOf(xs: Seq[Long]): Set[String] =
        xs.flatMap(x => readGens(fs, new HPath(leaf, s"_manifest-$x"))).toSet
      val keepGens = entriesOf(kept) ++ fold.toSeq.flatMap(_._2)
      val expiredGens = entriesOf(expired)
      val graceCutoff = System.currentTimeMillis() - DefaultVacuumGraceMs
      ManifestIo.list(fs, leaf)
        .filter(st => st.isDirectory &&
          (st.getPath.getName.startsWith(".gen-") ||
            st.getPath.getName.startsWith(".del-")) &&
          !keepGens.contains(st.getPath.getName) &&
          (expiredGens.contains(st.getPath.getName) ||
            st.getModificationTime < graceCutoff))
        .foreach(st => ManifestIo.delete(fs, st.getPath))
      expired.foreach(x => ManifestIo.delete(fs, new HPath(leaf, s"_manifest-$x")))
    }
    anchor
  }

  /** [[vacuum]] over a partitioned root: the [[manifestLeaves]] walk,
    * one vacuum per leaf (each under its own table lock — leaves are
    * independent, exactly like their commits). Returns root-relative
    * leaf path → report, reporting only leaves where anything was
    * removed. Also GCs the `_root-claim-*` transition files of
    * [[beginRootTransition]]: claims at/below the committed ROOT head
    * (or, on a legacy root with no root manifests, the min leaf head)
    * are completed transitions — safe immediately — and AGED claims
    * above it are crashed root ops (the same age-grace argument as
    * leaf debris; live walks refresh their claim's mtime per leaf
    * commit, so a long op never ages into this). Reported under the
    * `"."` key with the claim versions in `removedManifests`. */
  def vacuumPartitioned(spark: SparkSession, rootDir: String,
                        graceMs: Long = DefaultVacuumGraceMs): Map[String, VacuumReport] = {
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    require(ManifestIo.isDirectory(fs, root),
      s"vacuumPartitioned: $rootDir is not a directory")
    val leaves = manifestLeaves(fs, root)
    // per-leaf vacuums are pure FS passes under independent locks —
    // pooled like every other per-leaf walk (r17)
    val leafReports = parCommitLeaves(leaves) { leaf =>
      relPath(root, leaf) -> vacuum(spark, leaf.toString, graceMs)
    }.filter { case (_, r) =>
      r.removedGenerations.nonEmpty || r.removedManifests.nonEmpty
    }.toMap
    val completedHead = rootVersions(fs, root).lastOption.getOrElse {
      val heads = leaves.map(l => manifestVersions(fs, l).lastOption.getOrElse(0L))
      if (heads.isEmpty) 0L else heads.min
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val claims = ManifestIo.list(fs, root)
      .filter(st => st.isFile && st.getPath.getName.startsWith("_root-claim-"))
      .filter { st =>
        val v = st.getPath.getName.stripPrefix("_root-claim-").toLong
        v <= completedHead || st.getModificationTime < cutoff
      }.map(_.getPath).toSeq
    claims.foreach(p => ManifestIo.delete(fs, p))
    // staging debris of a crashed partitioned MERGE/DELETE/leaf
    // creation (the dirs a completed op deletes itself) — aged only,
    // the same grace. `.bootstrap-template` is the CDC bootstrap's
    // template name before it moved to [[createLeaves]]'
    // `.adopt-template-` prefix: older runs still leave it behind
    ManifestIo.list(fs, root)
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith(".upsert-stage-") ||
          st.getPath.getName.startsWith(".delete-stage-") ||
          st.getPath.getName.startsWith(".adopt-template-") ||
          st.getPath.getName == ".bootstrap-template") &&
        st.getModificationTime < cutoff)
      .foreach(st => ManifestIo.delete(fs, st.getPath))
    // a crashed claim takeover strands its renamed-aside corpse file
    // (r19 — the rename-based takeover's only debris), a crashed claim
    // its staging file; aged only
    ManifestIo.list(fs, root)
      .filter(st => st.isFile &&
        (st.getPath.getName.startsWith(".claim-corpse-") ||
          ManifestIo.isClaimStaging(st.getPath.getName)) &&
        st.getModificationTime < cutoff)
      .foreach(st => ManifestIo.delete(fs, st.getPath))
    if (claims.isEmpty) leafReports
    else leafReports + ("." -> VacuumReport(Nil,
      claims.map(_.getName.stripPrefix("_root-claim-").toLong).sorted))
  }

  def vacuum(spark: SparkSession, dir: String,
             graceMs: Long = DefaultVacuumGraceMs): VacuumReport = {
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    withTableLock(root) {
      val bodies = manifestVersions(fs, root)
        .map(v => v -> ManifestIo.readString(fs, new HPath(root, s"_manifest-$v")))
      if (bodies.forall(b => isBlank(b._2))) VacuumReport(Nil, Nil)
      else {
        // the grace clock: anything modified at/after this instant may
        // be a live cross-process writer's in-flight commit — skip it
        val cutoff = System.currentTimeMillis() - graceMs
        val blank = bodies.collect { case (v, b) if isBlank(b) &&
          ManifestIo.mtime(fs, new HPath(root, s"_manifest-$v")).exists(_ < cutoff) => v }
        val referenced = bodies.flatMap(b => parseGens(b._2)).toSet
        val aged = ManifestIo.list(fs, root).filter(_.getModificationTime < cutoff)
        val orphans = aged
          .filter(st => st.isDirectory &&
            (st.getPath.getName.startsWith(".gen-") ||
              st.getPath.getName.startsWith(".del-")) &&
            !referenced.contains(st.getPath.getName))
          .map(_.getPath).toSeq
        orphans.foreach(p => ManifestIo.delete(fs, p))
        blank.foreach(v => ManifestIo.delete(fs, new HPath(root, s"_manifest-$v")))
        aged.filter(st => st.isFile && ManifestIo.isClaimStaging(st.getPath.getName))
          .foreach(st => ManifestIo.delete(fs, st.getPath))
        VacuumReport(orphans.map(_.getName).sorted, blank)
      }
    }
  }
}
