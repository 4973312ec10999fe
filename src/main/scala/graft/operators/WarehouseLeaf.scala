package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Single-leaf table lifecycle — internal module of [[Warehouse]]
  * (r18 split, same public API): compaction (incl. Z-order layout),
  * streaming append, tombstone delete, MERGE upsert, snapshot reads
  * and time travel, history. */
trait WarehouseLeaf { this: Warehouse.type =>

  // ---------------------------------------------- manifested compaction
  /** Small-files compaction as a manifest commit — the table-format
    * move (Delta/Iceberg snapshot commit) on a plain filesystem: data
    * files live in dot-prefixed GENERATION directories (`.gen-<n>` —
    * invisible to naive discovery), and the newest `_manifest-v` of
    * the leaf's trail holds the live generation list — one name in
    * the compaction steady state, several while streaming appends
    * ([[appendManifested]]) accumulate. A fold writes the new
    * generation in full, then claims its `_manifest-v` by
    * create-exclusive (the version CAS and the commit — see
    * [[commitManifest]]). [[readManifested]] resolves the trail head
    * per read, so at every instant of a compaction there is a
    * complete generation to read — no absence window, by
    * construction. Returns the file count written (≤ the computed
    * target — trailing partitions can come up empty); targetFileBytes
    * ≈ 128 MB matches the scan split size so one task reads one
    * file.
    *
    * GC retains the last `retainSnapshots` committed manifests (and
    * every generation they reference) and deletes older ones — at the
    * default 1, a reader that resolved the head just before a
    * commit may still be scanning the old generation and gets a full
    * compaction cycle of grace (transient cost ≤ 2× the leaf). The
    * same window bounds [[readManifestedAt]] time travel: raise
    * `retainSnapshots` to keep more history, exactly Iceberg/Delta's
    * count-bounded snapshot retention. ONE logical writer per leaf,
    * like every table format — but violations are caught, not silent
    * (the [[leafCommit]] contract, one attempt): a cross-process
    * compaction whose head read was overtaken fails its CAS loudly
    * (the stale fold becomes [[vacuum]] food) rather than burying the
    * interleaved append.
    *
    * `alsoRetainVersions` (r19): snapshot versions pinned from this
    * fold's GC regardless of the count/time windows — the partitioned
    * walk passes the versions its retained root maps still reference
    * (an out-of-band leaf fold can put those below the count window);
    * a deployment can pin a version a downstream consumer holds. */
  def compactManifested(spark: SparkSession, dir: String,
                        targetFileBytes: Long = 128L << 20,
                        retainSnapshots: Int = 1,
                        retainFor: Option[java.time.Duration] = None,
                        clusterBy: Option[String] = None,
                        zorderBy: Seq[String] = Nil,
                        zorderQuantiles: Boolean = false,
                        alsoRetainVersions: Set[Long] = Set.empty): Int =
    foldLeaf(spark, dir, targetFileBytes, retainSnapshots, retainFor, clusterBy,
      zorderBy, zorderQuantiles, alsoRetainVersions)._1

  /** [[compactManifested]], returning the file count and the version
    * the fold committed (the partitioned walk records that version in
    * its root map without reading the head again). */
  private[operators] def foldLeaf(spark: SparkSession, dir: String,
                                  targetFileBytes: Long, retainSnapshots: Int,
                                  retainFor: Option[java.time.Duration],
                                  clusterBy: Option[String], zorderBy: Seq[String],
                                  zorderQuantiles: Boolean,
                                  alsoRetainVersions: Set[Long]): (Int, Long) = {
    require(retainSnapshots >= 0,
      s"retainSnapshots must be >= 0, got $retainSnapshots")
    require(retainFor.forall(!_.isNegative),
      s"retainFor must be >= 0, got $retainFor")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "compactManifested: pass clusterBy OR zorderBy, not both")
    require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
      s"zorderBy interleaves 2 to 4 dimensions (16-bit buckets — more " +
        s"than 4 would overflow the 64-bit Morton key; beyond 4, cluster " +
        s"on the highest-selectivity pair instead), got $zorderBy")
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    leafCommit(fs, root, "compactManifested", before = head => {
      // LEAF directories only: a partitioned root's k=v children each
      // get their OWN manifest — adoption here would create an empty
      // generation beside them and readers through the head would see
      // an empty table. Fail loud, point at the
      // per-leaf entry point. (.gen-* dirs are dot-prefixed, so a
      // manifested leaf itself still walks as a leaf.)
      ManifestIo.list(fs, root)
        .find(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_")).foreach { sub =>
          throw new IllegalArgumentException(
            s"compactManifested: $dir contains subdirectory ${sub.getPath.getName} — " +
              "it is a partitioned root, not a leaf; use compactManifestedPartitioned")
        }
      // adopt a plain leaf on first contact: its loose parquet files
      // become generation 0 (one-time migration — run it before any
      // concurrent reader exists, like any format conversion)
      adoptLeaf(fs, hconf(spark), root, always = true, head = Some(head))
    }) { h =>
    // the manifest may list SEVERAL generations (streaming appends via
    // appendManifested) — compaction folds them all into one. Txn
    // markers carry through the fold — maintenance must never reset a
    // writer's exactly-once state.
    val cur = h.gens
    val curRefs = parseRefs(h.body)
    val bytes = cur.map(g => ManifestIo.list(fs, entryPath(root, curRefs, g))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val nextId = nextEntryId(fs, root, cur)
    val next = s".gen-$nextId"
    // the new generation is invisible until its manifest is claimed, so it
    // can be written in place — no staging rename needed. The fold
    // reads through [[scanGens]]: schema evolution carries forward
    // (mergeSchema / union-by-name), and any `.del-` tombstones are
    // APPLIED AND RETIRED — the folded generation is the merge-on-read
    // state materialized, so compaction is also the delete-compaction
    // (Iceberg's rewrite-data-files with delete-file cleanup).
    // `clusterBy` range-partitions + sorts the fold on a column (the
    // OPTIMIZE/sort-compaction move): each output file then covers a
    // narrow value range, which is what makes the `#stats:` min/max
    // skipping effective AFTER a fold — a plain hash repartition
    // spreads every value range across every file and no per-file
    // range can exclude anything. `zorderBy` is the two-dimensional
    // form (OPTIMIZE ZORDER, r16): lay the fold out along the Morton
    // curve of both columns, so every file covers a TILE — narrow in
    // BOTH dimensions — and the `#stats:` skipping read prunes on
    // either one (a single-column sort can only ever prune its own).
    // a shallow clone's `#ref:` entries resolve to the source here
    // and the fold WRITES LOCALLY — compaction doubles as "materialize
    // the clone" (the refs retire with the entries they annotated)
    val folded = scanGens(spark, fs, root, h.body)
    (if (zorderBy.nonEmpty) {
      // Morton key over linearly-bucketed dimensions: one small agg
      // for the (min, max) of each column, then a 16-bit scale —
      // branch-free, codegen'd, O(rows) at write time, nothing at
      // read time. Linear bucketing assumes roughly-uniform value
      // spread; the production upgrade for heavy skew is quantile cut
      // points (range-partitioner sampling per dimension), which
      // slots into the same key expression. 2 dims take the magic-mask
      // binary interleave (32-bit capable, the pinned r16 path); 3–4
      // take the round-robin [[graft.functions.InterleaveBitsN]].
      //
      // Type gate UP FRONT (r17): a dimension whose values cannot be
      // bucketed numerically (a plain string column casts to null)
      // would silently degrade the requested Z-order to an unclustered
      // hash layout — no pruning, no error. Refuse loudly instead.
      zorderBy.foreach { c =>
        val f = folded.schema.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"compactManifested: zorderBy column '$c' not in schema " +
              s"(columns: ${folded.columns.mkString(", ")})"))
        val ok = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          f.dataType == org.apache.spark.sql.types.TimestampType ||
          f.dataType == org.apache.spark.sql.types.TimestampNTZType
        require(ok, s"compactManifested: zorderBy column '$c' has type " +
          s"${f.dataType.simpleString} — Z-order buckets need a numeric " +
          "or timestamp dimension (a lexical string would bucket as " +
          "null and silently lose the requested layout)")
      }
      val bucketsOpt: Option[Seq[Column]] =
        if (zorderQuantiles) {
          // SKEW-ROBUST bucketing (r18): per-dimension sampled
          // quantile cut points (the range-partitioner move applied
          // to the layout key) instead of the linear min/max scale —
          // a zipfian dimension spreads across the full bucket space
          // by MASS, so tiles stay narrow where the rows actually
          // are and the skipping read keeps pruning. One GK-sketch
          // pass over the fold (approxQuantile on all dims at once);
          // 4,095 cuts × scale 16 fills the same 16-bit space the
          // linear path uses, so the Morton key expression below is
          // shared verbatim. Duplicate cuts (one value heavier than
          // a quantile step) are harmless: the upper-bound search
          // stays monotone and such a value simply owns a wider
          // bucket band — exactly its mass.
          val Q = 4096
          val probs = (1 until Q).map(_.toDouble / Q).toArray
          val qdf = folded.select(
            zorderBy.map(c => col(c).cast("double").as(c)): _*)
          val cuts = qdf.stat.approxQuantile(zorderBy.toArray, probs, 0.001)
          if (cuts.exists(_.isEmpty)) None // an all-null dimension
          else Some(zorderBy.zip(cuts).map { case (c, cu) =>
            graft.functions.BucketByCuts.bucket_by_cuts(
              col(c).cast("double"), cu, 65536 / Q)
          })
        } else {
          val aggs = zorderBy.flatMap(c =>
            Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
          val b = folded.agg(aggs.head, aggs.tail: _*).head
          def bucket(c: String, mn: Double, mx: Double) = {
            val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
            least(lit(65535L),
              floor((col(c).cast("double") - lit(mn)) / lit(span) * 65536.0))
              .cast("long")
          }
          if (zorderBy.indices.exists(i => b.isNullAt(2 * i))) None
          else Some(zorderBy.zipWithIndex.map { case (c, i) =>
            bucket(c, b.getDouble(2 * i), b.getDouble(2 * i + 1)) })
        }
      bucketsOpt match {
       case None =>
        // an all-null dimension passes the type gate but carries no
        // range to bucket — fall back, SAYING SO (r17; was silent)
        System.err.println(s"[graft] compactManifested: a zorderBy " +
          s"dimension of $dir (of ${zorderBy.mkString(", ")}) is " +
          "entirely null — falling back to an unclustered " +
          "hash layout (no Z-order pruning for this fold)")
        folded.repartition(nFiles)
       case Some(buckets) =>
        // n = 4 fills bit 63 (the Long SIGN bit — 4 dims × 16 bucket
        // bits), and the engine's range partitioner compares SIGNED:
        // without correction the top half of dim 3 would sort FIRST,
        // splitting its box across the curve. XOR with MinValue makes
        // the signed comparator see the unsigned curve order; for
        // n = 2–3 (≤48 key bits) it is a constant bit flip that
        // changes no relative order. Caught by MortonPropertySpec's
        // locality property; the 4-D SinkSpec pin exercises it E2E.
        val zkey =
          (if (buckets.size == 2)
            graft.functions.InterleaveBits.interleave_bits(buckets(0), buckets(1))
          else graft.functions.InterleaveBits.interleave_bits_n(buckets))
            .bitwiseXOR(lit(Long.MinValue))
        folded.repartitionByRange(nFiles, zkey).sortWithinPartitions(zkey)
      }
    } else clusterBy match {
      case Some(c) => folded.repartitionByRange(nFiles, col(c))
        .sortWithinPartitions(col(c))
      case None => folded.repartition(nFiles)
    }).write.mode("overwrite").parquet(new HPath(root, next).toString)
    // CAS commit: if a cross-process writer advanced the trail since
    // the head was read, this THROWS (the fold is stale — it misses
    // that writer's generation) and the folded directory is left as
    // an orphan for [[vacuum]]; the caller re-runs the compaction.
    // CHECK constraint lines carry through the fold — compaction is
    // content-preserving, so the invariant they state still holds
    val v = h.commit(Seq(next),
      constraintLines(h.body) ++ collectStats(fs, hconf(spark), root, next))
    // SNAPSHOT RETENTION ([[gcLeafRetention]]) anchored on this fold's
    // commit: everything outside the count/time windows and the pins —
    // manifest files and the generations only they reference — is
    // deleted. The pre-fold list survives a count window of >= 1 (the
    // reader grace set), and aged never-referenced dirs are swept.
    gcLeafRetention(fs, root, retainSnapshots, retainFor, alsoRetainVersions,
      fold = Some(v -> ((if (retainSnapshots >= 1) cur else Seq.empty) :+ next)))
    (ManifestIo.list(fs, new HPath(root, next))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet")), v)
    }
  }

  /** Manifest APPEND — the streaming-ingest commit: `df` becomes ONE
    * new immutable generation directory, and the next `_manifest-v`
    * lists the old list PLUS the new name (the manifest
    * is newline-separated generation names; [[readManifested]] scans
    * their union). A reader resolves the old list or the new — either
    * way a complete, committed set of files — so arriving batches
    * never expose a partial table. [[compactManifested]] later folds
    * the accumulated generations back to one, retaining the pre-
    * compaction manifest as the reader grace set. Adopts an empty or
    * fresh directory (first append = generation 0). Returns the
    * committed generation id. Single-writer, like every commit here.
    *
    * `genId` makes the commit IDEMPOTENT for retrying producers (a
    * foreachBatch re-fired after a restart): the caller keys the
    * generation by a stable id (batchId), a re-fire overwrites its own
    * generation with identical deterministic content and the head —
    * already listing it — is left untouched, so the retry is a no-op
    * rewrite instead of a duplicate append. The overwrite of an
    * already-visible generation can momentarily remove files under a
    * concurrent scan; that reader class runs [[withManifested]], whose
    * missing-file retry covers exactly this. Without `genId`,
    * generations number monotonically from the current maximum.
    *
    * A plain leaf already holding LOOSE parquet files (no manifest)
    * is adopted on first contact exactly as [[compactManifested]]
    * adopts it: the loose files become generation 0, THEN the batch
    * appends — never a manifest that silently excludes pre-existing
    * data. A batchId-keyed producer whose first batch would ALSO be
    * generation 0 fails loudly instead of overwriting the adopted
    * data.
    *
    * MULTI-WRITER safety: the [[leafCommit]] contract, with a budget
    * of 5 attempts — a retry renumbers an unnumbered generation past
    * the winner's and rewrites it. The one hazard the CAS cannot close
    * is two UNNUMBERED cross-process appenders racing the same
    * generation NAME before either commits (their data writes can
    * interleave); producers that may race across processes key their
    * batches with `genId` (disjoint deterministic content — the
    * streaming contract above) or coordinate externally, exactly as
    * with every table format's conditional-PUT commit.
    *
    * Schema may EVOLVE additively across generations (a later batch
    * adds a column): [[readManifested]]/[[readManifestedAt]] merge
    * parquet schemas across the scanned generations, so rows from
    * generations written before the column read it as null — the
    * add-a-column lake contract, pinned by SinkSpec. Dropping or
    * retyping a column is NOT supported (parquet merge refuses
    * incompatible types loudly). */
  def appendManifested(spark: SparkSession, dir: String, df: DataFrame,
                       genId: Option[Long] = None): Long = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    // CHECK constraints gate the incoming batch BEFORE anything is
    // written (one O(batch) job, zero when unconstrained) and are
    // RE-validated on a retry whenever the re-read head's constraint
    // set differs from the one last validated (r20 ADVICE): a retry
    // whose CAS was lost to a cross-process addCheckConstraint must
    // not commit rows that add's whole-table scan never saw — that
    // scan ran before this batch's data existed and this batch
    // validated against the pre-constraint head, so without the
    // re-check BOTH gates would miss. Steady state re-parses the same
    // head and spends no extra job.
    var validatedCons: Option[Map[String, String]] = None
    leafCommit(fs, root, "appendManifested", attempts = 5, orEmpty = true,
      before = head => {
        fs.mkdirs(root)
        adoptLeaf(fs, hconf(spark), root, head = Some(head), refuseLoose = () =>
          require(genId.forall(_ != 0L),
            s"appendManifested: $dir holds pre-existing loose parquet " +
              "files, adopted as generation 0 — a genId=0 append would " +
              "overwrite them; key the producer's batches from a nonzero " +
              "id or compactManifested the leaf first"))
      }) { h =>
      val liveCons = parseConstraints(h.body)
      if (!validatedCons.contains(liveCons)) {
        requireConstraints(Some(h.body), df, "appendManifested",
          readManifested(spark, dir).schema)
        validatedCons = Some(liveCons)
      }
      val nextId = genId.getOrElse(nextEntryId(fs, root, h.gens))
      val next = s".gen-$nextId"
      df.write.mode("overwrite").parquet(new HPath(root, next).toString)
      if (!h.gens.contains(next)) // else an idempotent re-fire
        h.commit(h.gens :+ next,
          statsForGens(h.stats, h.gens) ++ collectStats(fs, hconf(spark), root, next))
      nextId
    }
  }

  /** THE leaf scan planner — every read of a committed manifest body
    * (the live read, time travel, the change feed's two images, the
    * compaction fold and the data-skipping reads) plans here: the
    * union of the data generations with any `.del-` tombstones applied
    * in ID ORDER — a tombstoned key disappears from every generation
    * committed BEFORE the tombstone and SURVIVES in any committed after
    * (re-insert semantics: delete then append genuinely resurrects the
    * key), exactly the merge-on-read contract of Delta deletion vectors
    * / Iceberg equality deletes, keyed rather than positional.
    * Shallow-clone `#ref:` entries resolve to their recorded source
    * directories.
    *
    * Without `keep` a generation is its DIRECTORY (one path; Spark
    * lists it). Fast path: no tombstones in the list (the steady state
    * — compaction retires them) reads as ONE multi-path mergeSchema
    * scan. With tombstones, each generation is read tagged with its id
    * (union-by-name with null-fill — the same additive-evolution
    * semantics mergeSchema gives) and the suppression is one left_anti
    * join against the tombstone keys with the `tid > gid` ordering
    * predicate; the tombstone side is delete-sized (small), so at scale
    * this is a broadcast anti join over the scan, not a second shuffle.
    *
    * With `keep` (the data-skipping reads) a generation is the FILES
    * `keep(generation, file)` admits, planned from the manifest's
    * `#file:` inventory (r16) — zero directory lists; a legacy
    * generation without `#file:` lines falls back to one list, judged
    * per generation so mixed trails stay correct. A generation whose
    * files ALL pruned still contributes its SCHEMA (one footer via a
    * limit(0) branch), so the pruned read stays semantically identical
    * to the unpruned one: columns added by that generation survive
    * (null-filled), and a retyped column still refuses through
    * [[requireAdditiveOnly]]. When every file pruned, the unpruned
    * plan supplies the schema; the caller's predicate returns zero rows
    * through it. Tombstones are always read in full — delete-sized. */
  private[operators] def scanGens(spark: SparkSession, fs: HFs, root: HPath,
                                  body: String,
                                  keep: Option[(String, String) => Boolean] = None): DataFrame = {
    val gens = parseGens(body)
    val refs = parseRefs(body)
    val (dels, datas) = gens.partition(_.startsWith(".del-"))
    // not producible by current writers (every commit path lists at
    // least one data generation), but a hand-edited or future-writer
    // manifest must fail loudly here, not as reduceLeft-on-empty
    require(datas.nonEmpty,
      s"scanGens: manifest lists only tombstones: ${gens.mkString(", ")}")
    def read(paths: Seq[HPath]): DataFrame = spark.read.parquet(paths.map(_.toString): _*)
    def union(tagged: Seq[(String, DataFrame)]): DataFrame = {
      requireAdditiveOnly(tagged)
      val data = tagged.map { case (g, df) =>
        df.withColumn("_gid", lit(entryId(g)))
      }.reduceLeft(_.unionByName(_, allowMissingColumns = true))
      if (dels.isEmpty) data.drop("_gid")
      else applyTombstones(spark, root, dels, data, refs)
    }
    keep match {
      case None =>
        if (dels.isEmpty) spark.read.option("mergeSchema", "true")
          .parquet(datas.map(g => entryPath(root, refs, g).toString): _*)
        else union(datas.map(g => g -> read(Seq(entryPath(root, refs, g)))))
      case Some(k) =>
        val inventory: Map[String, Seq[String]] =
          parseStats(body).filter(_.startsWith("#file:"))
            .map(_.stripPrefix("#file:")).map { ef =>
              val slash = ef.indexOf('/')
              ef.take(slash) -> ef.drop(slash + 1)
            }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
        // (generation, all files, files `keep` admits)
        val selected: Seq[(String, Seq[HPath], Seq[HPath])] = datas.map { g =>
          val d = entryPath(root, refs, g)
          val all = inventory.get(g) match {
            case Some(names) => names.map(n => new HPath(d, n))
            case None => ManifestIo.list(fs, d)
              .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
              .map(_.getPath).toSeq
          }
          (g, all, all.filter(f => k(g, f.getName)))
        }
        if (selected.forall(_._3.isEmpty)) scanGens(spark, fs, root, body)
        else if (dels.isEmpty && selected.forall(s => s._3.nonEmpty || s._2.isEmpty))
          spark.read.option("mergeSchema", "true")
            .parquet(selected.flatMap(_._3).map(_.toString): _*)
        else union(selected.collect {
          case (g, _, kept) if kept.nonEmpty => g -> read(kept)
          case (g, all, _) if all.nonEmpty => g -> read(all.take(1)).limit(0)
        })
    }
  }

  /** Refuse a RETYPED column across generations on the union-by-name
    * (tombstoned) scan path — explicitly, before the union. Without
    * this the union's type coercion could silently CAST a retyped
    * column (e.g. a string column re-committed as bigint widens the
    * old strings, exploding on unparseable rows only — or worse, NOT
    * exploding); the mergeSchema fast path already refuses such merges
    * at the parquet layer, and both paths must hold the same contract:
    * additive evolution only, drop/retype is a loud error. */
  private[operators] def requireAdditiveOnly(gens: Seq[(String, DataFrame)]): Unit = {
    val seen = scala.collection.mutable.LinkedHashMap[
      String, (String, org.apache.spark.sql.types.DataType)]()
    gens.foreach { case (g, df) =>
      df.schema.foreach { f =>
        seen.get(f.name) match {
          case Some((g0, t0)) if t0 != f.dataType =>
            throw new IllegalArgumentException(
              s"scanGens: column '${f.name}' is retyped across " +
                s"generations ($g0: $t0 vs $g: ${f.dataType}) — schema " +
                "evolution is additive only; retyping/dropping is not " +
                "supported")
          case None => seen(f.name) = (g, f.dataType)
          case _ =>
        }
      }
    }
  }

  /** Apply `.del-` tombstones to `_gid`-tagged data rows — the
    * merge-on-read suppression of [[scanGens]]: one left_anti join
    * against the (delete-sized, broadcast) tombstone keys with the
    * `tid > gid` ordering predicate. Every tombstone carries ONE column whose NAME
    * is the table's key column ([[deleteManifested]] enforces it at
    * write time). */
  private[operators] def applyTombstones(spark: SparkSession, root: HPath,
                              dels: Seq[String], data: DataFrame,
                              refs: Map[String, String] = Map.empty): DataFrame = {
    val keyCols = dels.map(g =>
      spark.read.parquet(entryPath(root, refs, g).toString).columns.toSeq).distinct
    require(keyCols.size == 1 && keyCols.head.size == 1,
      s"scanGens: tombstones disagree on the key column: $keyCols")
    val key = keyCols.head.head
    val tomb = dels.map { g =>
      spark.read.parquet(entryPath(root, refs, g).toString)
        .select(col(key).as("_tkey")).withColumn("_tid", lit(entryId(g)))
    }.reduceLeft(_.unionByName(_))
    data.join(broadcast(tomb),
        data(key) === tomb("_tkey") && tomb("_tid") > data("_gid"),
        "left_anti")
      .drop("_gid")
  }

  /** DATA-SKIPPING READ: [[readManifested]] restricted to `lower <=
    * column <= upper`, opening ONLY the files whose manifest-recorded
    * min/max range intersects the predicate (plus any file with no
    * recorded stats — conservative). Semantically identical to
    * `readManifested(...).filter(col >= lower && col <= upper)` — the
    * predicate is re-applied on the surviving files, so skipping can
    * only cut IO, never change the answer. The 100 TB shape: a keyed
    * point-read (`lower == upper`) against a table whose layout is
    * clustered on `column` (time-ordered ingest, or a
    * [[compactManifested]] fold with `clusterBy`) opens O(trail
    * depth) files instead of all of them. Bounds: integral, double or
    * string, matching the column's type (a mismatched bound reads
    * everything, still correct). Tombstones are always read in full —
    * they are delete-sized — and apply exactly as in [[scanGens]]. */
  def readManifestedRange(spark: SparkSession, dir: String, column: String,
                          lower: Any, upper: Any): DataFrame =
    readHead(spark, dir, "readManifestedRange", Some { meta =>
      val ranges: Map[(String, String), (String, String, String)] =
        meta.filter(_.startsWith("#stats:")).flatMap { l =>
          // #stats:<entry>/<file>:<col>:<kind>:<min>:<max>
          l.stripPrefix("#stats:").split(":", 5) match {
            case Array(entryFile, c, kind, mn, mx) if c == column =>
              val slash = entryFile.indexOf('/')
              Some((entryFile.take(slash), entryFile.drop(slash + 1)) ->
                (kind, mn, mx))
            case _ => None
          }
        }.toMap
      (g, f) => ranges.get((g, f)) match {
        case Some((kind, mn, mx)) => statsOverlap(kind, mn, mx, lower, upper)
        case None => true
      }
    }).filter(col(column) >= lit(lower) && col(column) <= lit(upper))

  /** NULL-SKIPPING READ (r20): [[readManifested]] restricted to
    * `column IS NULL` (`wantNull = true`) or `IS NOT NULL`, opening
    * only the files whose manifest-recorded `#nulls:` count says they
    * can contain a qualifying row — an IS NULL audit scan (the v03
    * shape) over a mostly-complete column opens O(files with any
    * null) instead of all of them, and an IS NOT NULL scan skips
    * all-null files. Same contract as [[readManifestedRange]]:
    * semantically identical to `readManifested(...).filter(...)`
    * (the predicate is re-applied), conservative on legacy manifests
    * — a file without a recorded null count is always read. */
  def readManifestedNull(spark: SparkSession, dir: String, column: String,
                         wantNull: Boolean): DataFrame =
    readHead(spark, dir, "readManifestedNull", Some { meta =>
      val nulls: Map[(String, String), (Long, Long)] =
        meta.filter(_.startsWith("#nulls:")).flatMap { l =>
          // #nulls:<entry>/<file>:<col>:<nullCount>:<numRows>
          l.stripPrefix("#nulls:").split(":", 4) match {
            case Array(entryFile, c, nn, nr) if c == column =>
              val slash = entryFile.indexOf('/')
              try Some((entryFile.take(slash), entryFile.drop(slash + 1)) ->
                (nn.toLong, nr.toLong))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
      (g, f) => nulls.get((g, f)) match {
        case Some((nn, nr)) => if (wantNull) nn > 0L else nn < nr
        case None => true
      }
    }).filter(if (wantNull) col(column).isNull else col(column).isNotNull)

  /** ROW-LEVEL DELETE as a tombstone commit — the merge-on-read
    * delete (Delta deletion vectors / Iceberg equality-delete files,
    * keyed): `keys` (exactly one column, named the table's key
    * column) becomes an immutable `.del-<id>` generation and the next
    * manifest lists the old list plus the tombstone — one O(delete
    * set) write and one manifest commit, NEVER a rewrite of the data
    * (the delete-a-few-rows-from-100 TB operation). Readers apply it
    * ordered (see [[scanGens]]): earlier generations lose the keys,
    * a LATER append legitimately re-inserts them. Compaction
    * materializes the suppression and retires the tombstone; GC,
    * retention, time travel ([[readManifestedAt]] resolves a
    * pre-delete snapshot WITH its rows — deletion is versioned like
    * any commit), vacuum, and the multi-writer CAS all treat `.del-`
    * entries as ordinary generations. NULL keys never match (SQL
    * equality — the Iceberg equality-delete contract): a null-keyed
    * row cannot be tombstoned; route such rows through compaction
    * with a filter instead. Returns the tombstone's id, or -1 when
    * `txn` marks the call as an already-applied replay (the
    * [[upsertManifested]] exactly-once contract, same marker
    * namespace — a delete and an upsert from one producer share its
    * monotone version sequence). */
  def deleteManifested(spark: SparkSession, dir: String,
                       keys: DataFrame,
                       txn: Option[(String, Long)] = None): Long = {
    require(keys.columns.length == 1,
      s"deleteManifested: keys must be exactly the key column, got " +
        keys.columns.mkString(", "))
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    val key = keys.columns.head
    tombstoneCommit(fs, root, "deleteManifested", txn,
      probe = h => requireKeyColumn(spark, root, h.body, key, "deleteManifested", dir)) {
      del => keys.distinct().write.mode("overwrite").parquet(del.toString)
    }._1
  }

  /** The tombstone commit step both delete forms run on
    * [[leafCommit]]: `probe` the head, draw the next entry id, `place`
    * the key set's files at `.del-<id>`, commit the old list plus the
    * tombstone. Returns (tombstone id, committed version); a txn replay
    * returns (-1, head version). */
  private[operators] def tombstoneCommit(fs: HFs, leaf: HPath, op: String,
      txn: Option[(String, Long)], probe: LeafHead => Unit = _ => ())(
      place: HPath => Unit): (Long, Long) =
    leafCommit(fs, leaf, op, txn = txn.map(_ -> ((v: Long) => (-1L, v)))) { h =>
      probe(h)
      val nextId = nextEntryId(fs, leaf, h.gens)
      val del = s".del-$nextId"
      place(new HPath(leaf, del))
      // tombstones carry no stats of their own (they are read in
      // full — delete-sized); the data generations' lines carry
      (nextId, h.commit(h.gens :+ del, statsForGens(h.stats, h.gens)))
    }

  /** Refuse an unknown key column AT COMMIT TIME — a footer-only schema
    * probe of one data generation of `head`; otherwise the mistake
    * would surface later, as a reader's resolution error. The probed
    * generation resolves through `#ref:` ([[entryPath]]): on an
    * unmaterialized shallow clone it lives in the SOURCE table's
    * directory. */
  private[operators] def requireKeyColumn(spark: SparkSession, leaf: HPath,
                                          head: String, key: String, op: String,
                                          table: String): Unit =
    parseGens(head).find(!_.startsWith(".del-")).foreach { g =>
      val cols = spark.read.parquet(entryPath(leaf, parseRefs(head), g).toString).columns
      require(cols.contains(key),
        s"$op: $table has no column '$key' (columns: ${cols.mkString(", ")})")
    }

  /** SNAPSHOT READ (time travel): scan the table exactly as committed
    * by manifest version `version` — the Iceberg `VERSION AS OF` /
    * Delta `versionAsOf` analogue for the audit/debug read the CDC and
    * streaming-ingest paths need. Fails LOUDLY, never silently-
    * partially: an unknown version (never committed, or its manifest
    * file already GC'd) is an IllegalArgumentException listing what IS
    * retained; a version whose manifest survives but whose generation
    * directories were GC'd (the retention window moved past it between
    * the list and now) is an IllegalStateException naming the missing
    * generation. Retention is [[compactManifested]]'s
    * `retainSnapshots` knob — the local analogue of Iceberg/Delta
    * snapshot-retention config. */
  def readManifestedAt(spark: SparkSession, dir: String,
                       version: Long): DataFrame = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    // scanGens: a snapshot taken BEFORE a delete reads with its rows;
    // one taken after applies the tombstone — deletes are versioned
    // like any commit
    val snap = snapshotAt(fs, root, version, "readManifestedAt", dir)
    scanGens(spark, fs, root, snap.body)
  }

  /** Read a [[compactManifested]] leaf through its manifest: resolve
    * the trail head ([[trailHead]]), scan its generations.
    * `spark.read.parquet` lists the generation eagerly, so a stale
    * head usually surfaces here (not
    * at some later action) and the one retry re-resolves it — that
    * race is possible only when the resolve races TWO commits back to
    * back (the one-generation retention grace has run out). A reader
    * that resolved fine but is MID-SCAN (count/collect in flight) when
    * its generation is GC'd two commits later fails at the ACTION, not
    * here — run such actions through [[withManifested]], which retries
    * that class too. */
  def readManifested(spark: SparkSession, dir: String): DataFrame =
    readHead(spark, dir, "readManifested")

  /** Resolve a leaf's committed head and plan its scan ([[scanGens]],
    * pruned by `keepOf(the head's metadata lines)` when given) — the
    * head resolution of every live read. "No committed table" is a
    * MOMENTOUS conclusion for a reader — downstream it means
    * bootstrap/empty, so a transient resolution failure (an fd-starved
    * stat reading as absence, an object store's transient list
    * inconsistency) must not reach it on first sight: verify once
    * after a short pause before concluding (r19; costs 50 ms only on
    * the genuinely-nothing-there path). One retry covers BOTH
    * stale-resolve shapes: a GC'd generation surfaces as
    * AnalysisException from the eager listing, and a head
    * `_manifest-v` GC'd between the trail listing and its read
    * surfaces as FileNotFoundException from that open. Direct callers
    * (CdcApply, Quality) get the documented one-retry contract without
    * withManifested. */
  private def readHead(spark: SparkSession, dir: String, op: String,
                       keepOf: Option[Seq[String] => (String, String) => Boolean] =
                         None): DataFrame = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    def resolveDf(): DataFrame = {
      val head = trailHead(fs, root).body.orElse {
        Thread.sleep(50)
        trailHead(fs, root).body
      }.getOrElse(throw new java.io.FileNotFoundException(
        s"$op: $dir has no committed table"))
      scanGens(spark, fs, root, head, keepOf.map(_(parseStats(head))))
    }
    try resolveDf()
    catch {
      case _: org.apache.spark.sql.AnalysisException => resolveDf()
      case _: java.io.FileNotFoundException => resolveDf()
    }
  }

  /** MERGE INTO the manifested table — the batch upsert (`WHEN
    * MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *`, the most-used
    * lakehouse write): every source row REPLACES the target rows
    * carrying its key, or inserts if none exist. ONE atomic commit:
    * the key tombstone (`.del-<v>`) and the source data (`.gen-<v+1>`)
    * are staged invisibly and enter the manifest in a single
    * commit — a reader sees the table before the merge or after it,
    * never the deleted-but-not-yet-inserted middle (which a
    * delete-then-append pair would expose between its two commits).
    * The tombstone's LOWER id suppresses only the pre-merge
    * generations; the new data generation rides above it — the
    * [[scanGens]] ordering doing the MERGE semantics. O(source +
    * delete set) written, never a data rewrite; compaction later
    * materializes and retires, like any tombstone. Returns the
    * committed manifest version.
    *
    * EXACTLY-ONCE for retrying producers (r14): pass `txn =
    * Some((appId, version))` with a version MONOTONICALLY INCREASING
    * per application (a foreachBatch producer passes its
    * checkpoint-tracked batchId) — through the [[leafCommit]] txn gate
    * a replay is a true no-op returning the CURRENT head version.
    * Without `txn` a replay is still content-idempotent (re-merging
    * produces byte-identical rows) but spends one more version. */
  def upsertManifested(spark: SparkSession, dir: String,
                       source: DataFrame, keyCol: String,
                       txn: Option[(String, Long)] = None): Long = {
    require(source.columns.contains(keyCol),
      s"upsertManifested: source has no column '$keyCol' " +
        s"(columns: ${source.columns.mkString(", ")})")
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    mergeCommit(spark, fs, root, "upsertManifested", txn, probe = { h =>
      requireKeyColumn(spark, root, h.body, keyCol, "upsertManifested", dir)
      // CHECK constraints gate the incoming rows before either of the
      // two writes (one O(batch) job; replays never pay it)
      requireConstraints(Some(h.body), source, "upsertManifested",
        readManifested(spark, dir).schema)
    }) { (del, gen) =>
      source.select(col(keyCol)).distinct().write.mode("overwrite")
        .parquet(del.toString)
      source.write.mode("overwrite").parquet(gen.toString)
    }
  }

  /** The MERGE commit step both upsert forms run on [[leafCommit]]:
    * `probe` the head, draw the tombstone id `base` and the generation
    * id `base + 1`, `place` the key set and the data at `.del-<base>` /
    * `.gen-<base+1>`, commit both in one manifest. Returns the
    * committed version; a txn replay returns the head version. */
  private[operators] def mergeCommit(spark: SparkSession, fs: HFs, leaf: HPath,
      op: String, txn: Option[(String, Long)], probe: LeafHead => Unit = _ => ())(
      place: (HPath, HPath) => Unit): Long =
    leafCommit(fs, leaf, op, txn = txn.map(_ -> ((v: Long) => v))) { h =>
      probe(h)
      val base = nextEntryId(fs, leaf, h.gens)
      val del = s".del-$base"
      val gen = s".gen-${base + 1}"
      place(new HPath(leaf, del), new HPath(leaf, gen))
      h.commit(h.gens :+ del :+ gen, statsForGens(h.stats, h.gens) ++
        collectStats(fs, hconf(spark), leaf, gen))
    }

  /** DESCRIBE HISTORY for a manifested leaf — the Delta `DESCRIBE
    * HISTORY` / Iceberg snapshots-table analogue: one row per RETAINED
    * manifest version (ascending), with the committed entry list, the
    * generation/tombstone split, and whether this version is the
    * committed head — exactly one row, the newest non-blank version
    * ([[trailHead]]'s rule; a restore target that lists the head's
    * entries is history, not current).
    * Table metadata is manifest-sized by design, so this is a
    * driver-side listing materialized as a local DataFrame — the
    * audit/debug companion to [[readManifestedAt]] (its `version`
    * column is exactly what that call accepts). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    // a concurrent compaction may GC a manifest between the listing
    // and the per-version reads — skip versions that vanish mid-walk
    // instead of letting DESCRIBE HISTORY throw on an expired version
    val trail = manifestVersions(fs, root).flatMap { v =>
      val mf = new HPath(root, s"_manifest-$v")
      // commit_ts = the manifest file's mtime: the create-exclusive
      // claim instant locally/HDFS, the PUT instant on an object store
      // — the same clock retainFor and the vacuum grace run on.
      // txns = the exactly-once markers AS OF this version (app:ver,
      // app-sorted) — the debugging surface for "which batch applied".
      try {
        val body = ManifestIo.readString(fs, mf)
        Some((v, parseGens(body), fs.getFileStatus(mf).getModificationTime,
          parseTxns(body), isBlank(body)))
      } catch { case _: java.io.FileNotFoundException => None }
    }
    val current = trail.filterNot(_._5).lastOption.map(_._1)
    val rows = trail.map { case (v, gens, mtime, txns, _) =>
      org.apache.spark.sql.Row(v,
        gens.mkString(","),
        gens.count(!_.startsWith(".del-")).toLong,
        gens.count(_.startsWith(".del-")).toLong,
        current.contains(v),
        new java.sql.Timestamp(mtime),
        txns.toSeq.sortBy(_._1).map { case (a, x) => s"$a:$x" }.mkString(","))
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, entries STRING, n_data_gens BIGINT, " +
          "n_tombstones BIGINT, is_current BOOLEAN, commit_ts TIMESTAMP, " +
          "txns STRING"))
  }
}
