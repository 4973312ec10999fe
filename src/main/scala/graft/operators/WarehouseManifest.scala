package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Manifest IO and parsing — internal module of [[Warehouse]] (r18
  * split, same public API): the filesystem seam, per-table lock,
  * the trail-head read and manifest parsing, `#stats:` data-skipping
  * metadata, the version-CAS commit, the one leaf commit every write
  * op runs on ([[leafCommit]]), and the bounded commit pool. */
trait WarehouseManifest { this: Warehouse.type =>

  // ------------------------------------------------------ filesystem seam
  // All table IO below runs through org.apache.hadoop.fs via
  // ManifestIo (r13): the SAME commit code serves file:, hdfs:, and
  // object-store schemes, with per-store semantics documented once at
  // the seam. The session's hadoopConfiguration carries connector
  // conf exactly as it does for Spark's own reads/writes.
  private[operators] def hconf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sparkContext.hadoopConfiguration

  /** In-process per-table writer lock (the `cachedIndex` pattern,
    * applied to table commits — r13): serializes
    * append/compact/vacuum on the same table within this JVM, so
    * local[*] multi-writer interleavings are mechanically safe
    * (SinkSpec races two appenders). Cross-PROCESS writers are caught
    * by the version CAS in [[commitManifest]] — the first committer
    * wins, the loser throws — see [[leafCommit]]. */
  private[operators] val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[operators] def withTableLock[T](root: HPath)(body: => T): T =
    tableLocks.computeIfAbsent(root.toString, _ => new Object)
      .synchronized(body)

  /** Root-relative leaf path for the partitioned-compaction report
    * maps (`.` for the root itself). */
  private[operators] def relPath(root: HPath, leaf: HPath): String =
    root.toUri.relativize(leaf.toUri).getPath.stripSuffix("/") match {
      case "" => "."
      case p => p
    }

  /** The manifest's generation list (newline-separated; a
    * single-generation manifest — the compaction steady state — is a
    * 1-element list).
    * Entries are data generations (`.gen-<id>`) or tombstone
    * generations (`.del-<id>`, [[deleteManifested]]); both draw ids
    * from ONE sequence, because the id ORDER is the merge-on-read
    * semantics (a tombstone suppresses only earlier generations).
    * `#`-prefixed lines are METADATA, not generations — today the
    * `#txn:<appId>:<version>` markers of [[upsertManifested]]'s
    * exactly-once contract — and are filtered here so every
    * generation-walking reader (scan, GC, vacuum, history) is
    * oblivious to them. */
  private[operators] def readGens(fs: HFs, manifest: HPath): Seq[String] =
    parseGens(ManifestIo.readString(fs, manifest))

  private[operators] def parseGens(body: String): Seq[String] =
    body.trim.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .filterNot(_.startsWith("#"))

  /** The `#txn:<appId>:<version>` markers of a committed manifest —
    * one entry per writer application, highest version applied (the
    * Delta `txnAppId`/`txnVersion` idempotent-writes state). Carried
    * forward by EVERY commit path (append, delete, upsert, compaction
    * fold), so the marker survives maintenance exactly like the data:
    * the manifest is a full snapshot, and the txn state is part of it. */
  private[operators] def parseTxns(body: String): Map[String, Long] =
    body.trim.split("\n").toSeq.map(_.trim)
      .filter(_.startsWith("#txn:"))
      .map { l =>
        val rest = l.stripPrefix("#txn:")
        val i = rest.lastIndexOf(':')
        rest.substring(0, i) -> rest.substring(i + 1).toLong
      }.toMap

  /** A leaf's head as [[trailHead]] resolved it: the CAS `anchor` and
    * the committed snapshot (`version`, `body`; 0 and None when nothing
    * is committed). */
  private[graft] final class TrailHead(val anchor: Long, val version: Long,
                                       val body: Option[String])

  /** THE head read of a leaf, from ONE listing of its `_manifest-*`
    * trail — the leaf's only commit record, as the `_root-manifest-*`
    * trail is the root's and `_delta_log/N.json` is Delta's: claiming
    * `_manifest-v` IS the commit, and the version's data is durable
    * before the claim. Two results, read together:
    *
    *  - `anchor`, the highest trail version, blank claims included —
    *    what [[leafCommit]], first-contact [[adoptLeaf]], the CHECK
    *    pins and the clone commit anchor their version CAS on, so a
    *    writer commits past a blank claim (r19);
    *  - `version`/`body`, the newest non-[[isBlank]] `_manifest-v`.
    *    Every commit path serializes at least one generation line, so
    *    a blank body is never a head: it is a claim whose body is not
    *    written yet. [[ManifestIo.putIfAbsent]] publishes a claim with
    *    its full bytes on `file:` (link(2)), on HDFS-contract stores
    *    (rename) and on object stores (conditional PUT), so a writer
    *    of this build leaves no such window there; the walk down is
    *    for a claim an older build or another store left blank.
    *
    * A listed version GC'd between the listing and its read propagates
    * as FileNotFoundException — the caller's one-retry re-lists
    * (walking past it here could resolve a STALE retained snapshot as
    * the head). */
  private[graft] def trailHead(fs: HFs, root: HPath): TrailHead = {
    val vs = manifestVersions(fs, root)
    val anchor = vs.lastOption.getOrElse(0L)
    vs.reverseIterator
      .map(v => v -> ManifestIo.readString(fs, new HPath(root, s"_manifest-$v")))
      .find(vb => !isBlank(vb._2))
      .fold(new TrailHead(anchor, 0L, None)) { case (v, b) => new TrailHead(anchor, v, Some(b)) }
  }

  /** A claimed `_manifest-v` whose body is not written: never a head
    * ([[trailHead]], `history`'s `is_current`), and vacuum food once
    * aged. */
  private[operators] def isBlank(body: String): Boolean = body.trim.isEmpty

  /** Serialize a manifest body: generation list, then the `#stats:`
    * file-skipping lines (sorted), then the txn markers (app-sorted) —
    * deterministic bytes, so a re-run that recommits the same state
    * (a converging clone) compares byte-equal. */
  private[operators] def manifestBody(gens: Seq[String], txns: Map[String, Long],
                           stats: Seq[String] = Seq.empty): String =
    (gens ++ stats.sorted ++
      txns.toSeq.sortBy(_._1).map { case (a, v) => s"#txn:$a:$v" })
      .mkString("\n")

  // ------------------------------------------------- data skipping (r15)
  // Per-FILE min/max statistics ride the manifest as `#stats:` metadata
  // lines (the same mechanism as the `#txn:` markers — part of the
  // snapshot, carried by every commit path), the Delta add-file-stats /
  // Iceberg manifest-metrics analogue: a point/range predicate on a
  // clustered column opens only the files whose range intersects it,
  // instead of every file of every live generation — the one 100 TB
  // read-path feature partition pruning alone cannot give (a keyed
  // point-read against an unpartitioned 100 TB leaf).
  //
  // Line format (one per file × column):
  //   #stats:<entry>/<file>:<col>:l:<min>:<max>       signed integral
  //   #stats:<entry>/<file>:<col>:d:<min>:<max>       double/float
  //   #stats:<entry>/<file>:<col>:s:<b64min>:<b64max> UTF-8 string
  // Readers that lack a line for (file, column) keep the file —
  // conservative by construction, so legacy manifests, unsupported
  // types and all-null chunks never mis-prune.

  /** Columns per file that get stats lines — the Delta
    * dataSkippingNumIndexedCols analogue; bounds manifest growth to
    * O(files × 16) lines. */
  private[operators] val MaxStatsCols = 16

  /** Footer-walk one committed generation directory and emit its
    * `#stats:` lines: per file, per top-level atomic column (capped at
    * [[MaxStatsCols]], schema order), the min/max across that file's
    * row groups — read from the parquet column-chunk statistics the
    * writer already stored, so collection is one footer read per NEW
    * file per commit (the same footers a mergeSchema planning pass
    * reads; carried-forward generations re-use their existing lines as
    * text, never re-read). Skipped (conservatively, no line): nested
    * columns, non-string binary, unsupported physical types, chunks
    * with absent/empty stats, all-null files, NaN-tainted double
    * stats, and column names that would break the line syntax. String
    * min/max are base64 of the UTF-8 bytes; their order is unsigned
    * byte-wise — exactly UTF8String's comparison, so pruning agrees
    * with the engine's own `>=`.
    *
    * Also emits one `#file:<entry>/<file>` line per parquet file
    * (r16): the manifest then IS the generation's file inventory —
    * [[readManifestedRange]] plans the pruned scan from these lines
    * with ZERO per-generation directory lists (the O(files) metadata
    * round-trips that dominate at object-store latencies, the exact
    * cost Delta/Iceberg avoid by making the log the inventory).
    * Stats-less files (all-null, unsupported types) still get their
    * `#file:` line, so the inventory is complete even where skipping
    * cannot prune; legacy manifests without `#file:` lines fall back
    * to listing. */
  private[operators] def collectStats(fs: HFs, conf: org.apache.hadoop.conf.Configuration,
                           root: HPath, entry: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
    val dir = new HPath(root, entry)
    val files = ManifestIo.list(fs, dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    files.toSeq.map(st => s"#file:$entry/${st.getPath.getName}") ++
      files.toSeq.flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try {
        val md = reader.getFooter
        val blocks = md.getBlocks.asScala.toSeq
        md.getFileMetaData.getSchema.getFields.asScala.toSeq
          .filter(_.isPrimitive).take(MaxStatsCols)
          .flatMap { f =>
            val name = f.getName
            val chunks = blocks.flatMap(_.getColumns.asScala.filter(c =>
              c.getPath.size() == 1 && c.getPath.toDotString == name))
            val stats = chunks.map(_.getStatistics)
            // `#nulls:<entry>/<file>:<col>:<nullCount>:<numRows>` (r20)
            // — per-file null counts alongside min/max, same footer
            // pass (Delta records nullCount for the same reason): lets
            // IS NULL / IS NOT NULL reads skip files. Type-agnostic,
            // so it emits even where min/max is unsupported (binary,
            // all-null files); conservative — any chunk without a
            // recorded null count suppresses the line, and no line
            // means "keep the file".
            val nullsLine =
              if (name.contains(":") || name.contains("/") ||
                  name.contains("\n") || chunks.isEmpty ||
                  stats.exists(s => s == null || !s.isNumNullsSet ||
                    s.getNumNulls < 0))
                None
              else {
                val rows = blocks.map(_.getRowCount).sum
                Some(s"#nulls:$entry/${st.getPath.getName}:$name:" +
                  s"${stats.map(_.getNumNulls).sum}:$rows")
              }
            val minmaxLine =
            if (name.contains(":") || name.contains("/") || name.contains("\n") ||
                stats.isEmpty ||
                stats.exists(s => s == null || s.isEmpty || !s.hasNonNullValue))
              None
            else {
              val prefix = s"#stats:$entry/${st.getPath.getName}:$name"
              f.asPrimitiveType().getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
                  // DATE/TIMESTAMP logical types ride the same signed
                  // integral order (days / micros)
                  val mn = stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min
                  val mx = stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max
                  Some(s"$prefix:l:$mn:$mx")
                case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT =>
                  val mn = stats.map(_.genericGetMin.asInstanceOf[Number].doubleValue).min
                  val mx = stats.map(_.genericGetMax.asInstanceOf[Number].doubleValue).max
                  // NaN-initialized stats (first value NaN) are
                  // untrustworthy bounds — skip, keep the file
                  if (mn.isNaN || mx.isNaN) None else Some(s"$prefix:d:$mn:$mx")
                case PrimitiveTypeName.BINARY
                    if f.asPrimitiveType().getLogicalTypeAnnotation ==
                      LogicalTypeAnnotation.stringType() =>
                  val byBytes = Ordering.comparatorToOrdering(
                    java.util.Comparator.comparing(
                      (b: Array[Byte]) => b,
                      (a: Array[Byte], b: Array[Byte]) =>
                        java.util.Arrays.compareUnsigned(a, b)))
                  val mn = stats.map(_.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).min(byBytes)
                  val mx = stats.map(_.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).max(byBytes)
                  Some(s"$prefix:s:${enc.encodeToString(mn)}:${enc.encodeToString(mx)}")
                case _ => None
              }
            }
            nullsLine.toSeq ++ minmaxLine.toSeq
          }
      } finally reader.close()
    }
  }

  /** The carried metadata lines of a manifest body — `#stats:`
    * (min/max skipping) and `#file:` (file inventory), both
    * `<entry>/<file>`-addressed with the entry-keyed carry-forward
    * lifecycle, plus `#constraint:` (table CHECK constraints,
    * [[WarehouseConstraints]]) which carries UNCONDITIONALLY — a
    * constraint is table state, not per-entry state. Every consumer
    * of these lines filters by its own prefix. */
  private[operators] def parseStats(body: String): Seq[String] =
    body.trim.split("\n").toSeq.map(_.trim)
      .filter(l => l.startsWith("#stats:") || l.startsWith("#file:") ||
        l.startsWith("#constraint:") || l.startsWith("#nulls:") ||
        l.startsWith("#ref:"))

  /** The entry (generation/tombstone name) a per-file metadata line
    * belongs to. */
  private[operators] def metaEntry(l: String): String =
    l.substring(l.indexOf(':') + 1).takeWhile(_ != '/')

  /** Carry-forward filter: the stats/file lines whose entry survives
    * into the next commit's generation list (dropped generations take
    * their lines with them; retained ones keep theirs as text — no
    * re-read). `#constraint:` lines carry unconditionally — table
    * state, not entry state. */
  private[operators] def statsForGens(lines: Seq[String], gens: Seq[String]): Seq[String] = {
    val keep = gens.toSet
    lines.filter(l => l.startsWith("#constraint:") ||
      keep.contains(metaEntry(l)))
  }

  /** SHALLOW-CLONE entry references (r20 — Delta `SHALLOW CLONE`
    * parity): `#ref:<entry>/<base64url(absolute-dir-uri)>` records
    * that a manifest entry's data lives in ANOTHER table's directory
    * — the clone copied metadata only. Entry-keyed like `#stats:`
    * (the `/` separator keeps [[metaEntry]]'s carry-forward contract;
    * base64url never contains '/' or ':'), so compaction's fold —
    * which rewrites the data LOCALLY — retires the reference with the
    * entry it replaces: OPTIMIZE is also "materialize the clone". */
  private[operators] def refLine(entry: String, absDir: String): String =
    "#ref:" + entry + "/" + java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(absDir.getBytes("UTF-8"))

  private[operators] def parseRefs(body: String): Map[String, String] =
    body.trim.split("\n").toSeq.map(_.trim)
      .filter(_.startsWith("#ref:")).map { l =>
        val rest = l.stripPrefix("#ref:")
        val slash = rest.indexOf('/')
        rest.take(slash) -> new String(
          java.util.Base64.getUrlDecoder.decode(rest.drop(slash + 1)), "UTF-8")
      }.toMap

  /** Where a manifest entry's data directory actually lives: the
    * local child for an ordinary entry, the recorded absolute source
    * directory for a shallow-clone reference. Every data-reading
    * consumer of a generation list resolves through this. */
  private[operators] def entryPath(root: HPath, refs: Map[String, String],
                                   g: String): HPath =
    refs.get(g).map(new HPath(_)).getOrElse(new HPath(root, g))

  /** Does the recorded [min, max] intersect the query's [lower, upper]?
    * Bound-type / kind mismatches keep the file (conservative). */
  private[operators] def statsOverlap(kind: String, mn: String, mx: String,
                           lower: Any, upper: Any): Boolean = {
    def asLong(v: Any): Option[Long] = v match {
      case n: Byte => Some(n.toLong); case n: Short => Some(n.toLong)
      case n: Int => Some(n.toLong); case n: Long => Some(n)
      case _ => None
    }
    def asDouble(v: Any): Option[Double] = v match {
      case n: Float => Some(n.toDouble); case n: Double => Some(n)
      case other => asLong(other).map(_.toDouble)
    }
    kind match {
      case "l" => (asLong(lower), asLong(upper)) match {
        case (Some(lo), Some(hi)) => !(hi < mn.toLong || lo > mx.toLong)
        case _ => true
      }
      case "d" => (asDouble(lower), asDouble(upper)) match {
        case (Some(lo), Some(hi)) => !(hi < mn.toDouble || lo > mx.toDouble)
        case _ => true
      }
      case "s" => (lower, upper) match {
        case (lo: String, hi: String) =>
          val dec = java.util.Base64.getUrlDecoder
          val mnB = dec.decode(mn)
          val mxB = dec.decode(mx)
          !(java.util.Arrays.compareUnsigned(hi.getBytes("UTF-8"), mnB) < 0 ||
            java.util.Arrays.compareUnsigned(lo.getBytes("UTF-8"), mxB) > 0)
        case _ => true
      }
      case _ => true
    }
  }

  /** The shared id sequence under `.gen-<id>` / `.del-<id>` names. */
  private[operators] def entryId(name: String): Long =
    name.substring(name.lastIndexOf('-') + 1).toLong

  /** The next free entry id for a new commit: one past every id the
    * HEAD references OR the directory holds (r19). The head's max id
    * alone became insufficient with [[restoreManifested]]: a restore's
    * head lists an OLD snapshot's entries while the rolled-past
    * versions keep their directories on disk as retained history — a
    * head-anchored id would re-issue one of their ids and the new
    * generation's overwrite-write would destroy a retained snapshot's
    * data. Scanning the directory also steps past crashed writers'
    * orphan generations (ids simply skip; the orphans stay vacuum
    * food). Cost: one LIST per commit, beside the one
    * [[manifestVersions]] already pays. Callers that key their
    * generation explicitly (`genId` — the streaming exactly-once
    * contract) bypass this on purpose: overwriting their OWN prior
    * generation is that contract. */
  private[operators] def nextEntryId(fs: HFs, root: HPath, gens: Seq[String]): Long = {
    val onDisk = ManifestIo.list(fs, root)
      .filter(st => st.isDirectory &&
        st.getPath.getName.matches("""\.(gen|del)-\d+"""))
      .map(st => entryId(st.getPath.getName)).toSeq
    (gens.map(entryId) ++ onDisk).foldLeft(-1L)(math.max) + 1
  }

  /** Commit manifest VERSION `expectedVersion + 1`: claim the
    * immutable `_manifest-<v>` by CREATE-EXCLUSIVE — the claim IS the
    * commit (the Delta `_delta_log/N.json` analogue — one file per
    * commit, and put-if-absent on its name IS the concurrency control:
    * r13). A writer whose `expectedVersion` was overtaken — another
    * process committed since it read the head — fails the claim and
    * gets ConcurrentModificationException BEFORE anything becomes
    * visible, so a committed generation can never be silently dropped
    * by a stale writer. Returns the committed version id. */
  private[graft] def commitManifest(fs: HFs, root: HPath,
                             gens: Seq[String], expectedVersion: Long,
                             txns: Map[String, Long] = Map.empty,
                             stats: Seq[String] = Seq.empty): Long = {
    val v = expectedVersion + 1
    if (!ManifestIo.putIfAbsent(fs, new HPath(root, s"_manifest-$v"),
        manifestBody(gens, txns, stats)))
      throw new java.util.ConcurrentModificationException(
        s"commit of $root at version $v lost the race: another writer " +
          "committed after this writer read the head (version CAS " +
          "on the _manifest trail) — re-read and retry, or key batches " +
          "by genId / coordinate writers")
    v
  }

  /** A `#txn:` marker line is ':'- and newline-delimited: an appId
    * carrying either would corrupt every later parse of the manifest
    * (and of the root maps that record it). Every txn entry point
    * refuses it before anything is claimed or written. */
  private[operators] def requireTxnAppId(op: String,
                                         txn: Option[(String, Long)]): Unit =
    require(txn.forall(t => !t._1.contains("\n") && !t._1.contains(":")),
      s"$op: txn appId must not contain ':' or newline: $txn")

  /** A leaf's committed head as one [[leafCommit]] step sees it: the
    * body, the trail-head `version` its CAS anchors on, the 0-based
    * `attempt`, and [[commit]] — the step's only way to commit, which
    * carries the head's `#txn:` markers plus the op's own. */
  private[operators] final class LeafHead(val body: String, val version: Long,
                                          val attempt: Int,
                                          commitFn: (Seq[String], Seq[String]) => Long) {
    lazy val gens: Seq[String] = parseGens(body)
    lazy val stats: Seq[String] = parseStats(body)
    def commit(gens: Seq[String], stats: Seq[String]): Long = commitFn(gens, stats)
  }

  /** THE leaf commit — every head-anchored commit of a manifested leaf
    * (append, compaction fold, delete, MERGE, restore, CHECK add/drop,
    * and their partitioned forms, leaf by leaf) runs `step` here.
    * The contract, stated once:
    *
    *  - '''Lock.''' In-process writers to one leaf serialize on the
    *    per-table lock ([[withTableLock]]).
    *  - '''Early `expected` capture.''' The head body and the CAS
    *    anchor come from one [[trailHead]] read, under the lock, BEFORE the step does
    *    any work — a cross-process write landing during the step's
    *    scans or data writes then surfaces as a lost version CAS at
    *    [[commitManifest]], never as a commit over rows the step did not
    *    see. `before` maps the first read to the head the first attempt
    *    runs on (first-contact adoption: [[adoptLeaf]] commits over an
    *    empty head and returns the new one). `pinned` replaces the
    *    first attempt's read with a head the caller took even earlier
    *    (before a root-wide validation scan). A missing head refuses
    *    (`"<op>: <leaf> has no committed table"`) unless `orEmpty` lets
    *    a first append create the table.
    *  - '''Txn gate.''' With `txn = Some(((appId, version), replay))` the
    *    appId is checked ([[requireTxnAppId]]), and a head whose marker
    *    for appId is already ≥ version is a completed replay: the step
    *    never runs and `replay(head version)` is returned — no write, no
    *    version spent. Otherwise the committed manifest carries the
    *    marker (the Delta txnAppId/txnVersion idempotent-writes state).
    *  - '''CAS budget.''' `attempts` bounds the whole step: a lost CAS
    *    re-reads the head and re-runs the step (which renumbers its
    *    entries and re-validates against the new head); the last loss
    *    propagates as ConcurrentModificationException. Persistent loss
    *    is a writer storm to coordinate, and failing loudly beats
    *    spinning. */
  private[operators] def leafCommit[T](fs: HFs, leaf: HPath, op: String,
                                       attempts: Int = 1,
                                       pinned: Option[TrailHead] = None,
                                       orEmpty: Boolean = false,
                                       before: TrailHead => TrailHead = identity,
                                       txn: Option[((String, Long), Long => T)] = None)(
      step: LeafHead => T): T = {
    requireTxnAppId(op, txn.map(_._1))
    withTableLock(leaf) {
      def run(attempt: Int, h: TrailHead): T = {
        val body = h.body.orElse(if (orEmpty) Some("") else None)
          .getOrElse(throw new IllegalArgumentException(
            s"$op: $leaf has no committed table"))
        val expected = h.anchor
        val txns = parseTxns(body)
        txn.collect {
          case ((app, ver), replay) if txns.get(app).exists(_ >= ver) => replay(expected)
        }.getOrElse {
          val marked = txn.fold(txns) { case ((app, ver), _) => txns + (app -> ver) }
          val head = new LeafHead(body, expected, attempt, (gens, stats) =>
            commitManifest(fs, leaf, gens, expected, marked, stats))
          try step(head)
          catch {
            case _: java.util.ConcurrentModificationException if attempt + 1 < attempts =>
              run(attempt + 1, trailHead(fs, leaf))
          }
        }
      }
      run(0, pinned.getOrElse(before(trailHead(fs, leaf))))
    }
  }

  /** THE first commit of a leaf — first-contact adoption (append,
    * compaction), partition adoption (the partitioned MERGE) and the
    * sharded CDC bootstrap, the last two through [[createLeaves]].
    * Under the leaf's lock, when the re-probed head is empty: loose
    * parquet files move into `.gen-0` (`refuseLoose` runs first when
    * there are any), a `.gen-0` holding no data gets the schema
    * `template` file, and version 1 commits with `.gen-0`'s
    * `#file:`/stats lines plus the `inherit`ed `#constraint:` lines (a
    * reader never observes a constrained root with an unconstrained
    * partition).
    *
    * Adopt, never reset: a headless leaf is not always empty. Loose
    * files are a plain write awaiting first contact, and a populated
    * `.gen-0` with no commit is a crashed prior adoption's half-moved
    * state; both become generation 0 (the move is idempotent — a
    * replay moves the remainder and converges) and keep their data.
    * The probe is the committed HEAD — `head` when the caller has just
    * read it under the lock (a [[leafCommit]] `before`), else one
    * [[trailHead]] read: re-adopting a leaf with a committed trail
    * would drop every post-gen-0 generation. Returns the head after
    * the adoption.
    * Without a template, a leaf with no data at all commits only when
    * `always` (compaction commits an empty `.gen-0`); otherwise a
    * no-genId append would number itself 0 and overwrite adopted
    * data.
    *
    * The CAS anchor is the one rule the callers differ on.
    * `sharedCreate` (the pooled root creations): rival creators race
    * to the same missing leaf and the probe-to-commit window spans the
    * template's Spark job, so the CAS anchors at version 0 — any
    * interim commit owns `_manifest-1` and this creation no-ops
    * instead of claiming `_manifest-(head+1)` over it. Otherwise (first
    * contact inside a writer's own [[leafCommit]]) the CAS anchors on
    * the probe's trail anchor, so a leaf whose trail holds only blank
    * claims ([[trailHead]]'s r19 window) commits past them, and a lost
    * race — any commit landing after the probe — propagates. */
  private[operators] def adoptLeaf(fs: HFs, conf: org.apache.hadoop.conf.Configuration,
                                   leaf: HPath, template: Option[HPath] = None,
                                   inherit: Seq[String] = Nil,
                                   always: Boolean = false,
                                   sharedCreate: Boolean = false,
                                   refuseLoose: () => Unit = () => (),
                                   head: Option[TrailHead] = None): TrailHead =
    withTableLock(leaf) {
      val h = head.getOrElse(trailHead(fs, leaf))
      if (h.body.nonEmpty) h
      else {
        def parquet(d: HPath) = ManifestIo.list(fs, d)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        val gen0 = new HPath(leaf, ".gen-0")
        val loose = parquet(leaf)
        if (loose.nonEmpty) refuseLoose()
        val hasData = loose.nonEmpty || parquet(gen0).nonEmpty
        if (!(hasData || always || template.isDefined)) h
        else {
          fs.mkdirs(gen0)
          loose.foreach(st => ManifestIo.rename(fs, st.getPath,
            new HPath(gen0, st.getPath.getName)))
          if (!hasData) template.foreach(t => org.apache.hadoop.fs.FileUtil.copy(
            fs, t, fs, new HPath(gen0, t.getName), false, conf))
          val stats = collectStats(fs, conf, leaf, ".gen-0") ++ inherit
          try {
            val v = commitManifest(fs, leaf, Seq(".gen-0"),
              if (sharedCreate) 0L else h.anchor, stats = stats)
            new TrailHead(v, v, Some(manifestBody(Seq(".gen-0"), Map.empty, stats)))
          } catch {
            case _: java.util.ConcurrentModificationException if sharedCreate =>
              trailHead(fs, leaf)
          }
        }
      }
    }

  /** A retained leaf snapshot as [[snapshotAt]] resolved it: the
    * `_manifest-<version>` body with its entries, `#ref:` references
    * and carried metadata lines, and [[entryDir]], where an entry's
    * data lives. */
  private[operators] final class Snapshot(val fs: HFs, val root: HPath,
                                          val version: Long, val body: String,
                                          op: String, table: String) {
    lazy val gens: Seq[String] = parseGens(body)
    lazy val refs: Map[String, String] = parseRefs(body)
    lazy val stats: Seq[String] = parseStats(body)
    def entryDir(g: String): HPath = entryPath(root, refs, g)

    /** Refuse a snapshot whose entry directory is gone (the retention
      * window moved past it between the listing and now): never a
      * silently partial read, restore or clone. */
    def requireLive(): Unit =
      gens.find(g => !ManifestIo.isDirectory(fs, entryDir(g))).foreach { g =>
        throw new IllegalStateException(
          s"$op: snapshot $version of $table lists $g, which has been " +
            "garbage-collected (retention window moved past it)")
      }
  }

  /** THE leaf snapshot lookup of every versioned op — time travel,
    * restore, both clones and the change feed: `_manifest-<version>`
    * must exist (else IllegalArgumentException "`<op>`: snapshot v of
    * `table` is not retained", listing what is), and unless `live` is
    * off every entry it lists must still have its directory
    * ([[Snapshot.requireLive]]; a clone checks after its destination
    * probe, so a completed clone re-run converges first). */
  private[operators] def snapshotAt(fs: HFs, root: HPath, version: Long,
                                    op: String, table: String,
                                    live: Boolean = true): Snapshot = {
    val hist = new HPath(root, s"_manifest-$version")
    if (!ManifestIo.exists(fs, hist))
      throw new IllegalArgumentException(
        s"$op: snapshot $version of $table is not retained " +
          s"(available: ${manifestVersions(fs, root).mkString(", ")})")
    val snap = new Snapshot(fs, root, version, ManifestIo.readString(fs, hist), op, table)
    if (live) snap.requireLive()
    snap
  }

  /** The committed snapshot versions of a manifested leaf, ascending
    * (the surviving `_manifest-*` trail — older versions disappear as
    * [[compactManifested]]'s retention window GCs them). Resolves the
    * filesystem through the active session's Hadoop conf when one
    * exists (connector conf applies), else the default. */
  def snapshots(dir: String): Seq[Long] = {
    val (fs, root) = ManifestIo.resolve(dir, sessionHconf())
    manifestVersions(fs, root)
  }

  /** The session's Hadoop conf for the no-SparkSession-argument entry
    * points: `getActiveSession` is THREAD-LOCAL, so a raw consumer
    * thread (the CDF consumer's poll loop) would otherwise silently
    * fall back to a bare Configuration and lose user-set Hadoop conf
    * (object-store credentials, custom fs impls) — fall through to the
    * process-wide default session before giving up. */
  private[operators] def sessionHconf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The exactly-once `#txn:` markers committed at the table's HEAD —
    * appId → highest applied version (the Delta txnAppId/txnVersion
    * surface). Empty for an uncommitted table. This is the durable
    * CURSOR a restarted idempotent producer or change-feed consumer
    * resumes from — the markers ride the snapshot, so they survive
    * crashes, folds and RESTORE exactly like the data they gate. */
  def committedTxns(dir: String): Map[String, Long] = {
    val (fs, root) = ManifestIo.resolve(dir, sessionHconf())
    trailHead(fs, root).body.map(parseTxns).getOrElse(Map.empty)
  }

  private[operators] def manifestVersions(fs: HFs, root: HPath): Seq[Long] =
    ManifestIo.list(fs, root)
      .filter(st => st.isFile && st.getPath.getName.startsWith("_manifest-"))
      .map(_.getPath.getName.stripPrefix("_manifest-").toLong)
      .sorted.toSeq

  /** Run `action` against the current generation with the FULL retry:
    * resolve-time staleness (AnalysisException, already covered inside
    * [[readManifested]]) AND mid-action expiry — a scan that resolved a
    * generation, then lost it to GC when two commits landed back to
    * back, surfaces as a FileNotFoundException (possibly wrapped in a
    * SparkException task failure); re-resolving and re-running the
    * action once lands on the new live generation. One retry is the
    * right budget: a second consecutive loss would mean the reader is
    * persistently two commits behind per attempt — a pathological
    * writer, not a race. */
  def withManifested[T](spark: SparkSession, dir: String)(
      action: DataFrame => T): T =
    retryOnMissingFile(action(readManifested(spark, dir)))

  /** [[withManifested]] over a partitioned root: the action re-resolves
    * EVERY leaf head and re-runs once if any leaf's generation
    * expired mid-action (same retry budget, same reasoning — per leaf
    * now, since each leaf commits independently). */
  def withManifestedPartitioned[T](spark: SparkSession, rootDir: String)(
      action: DataFrame => T): T =
    retryOnMissingFile(action(readManifestedPartitioned(spark, rootDir)))

  private[operators] def retryOnMissingFile[T](attempt: => T): T = {
    def missingFile(e: Throwable, depth: Int = 0): Boolean =
      e != null && depth < 16 && (e.isInstanceOf[java.io.FileNotFoundException] ||
        (e.getCause ne e) && missingFile(e.getCause, depth + 1))
    try attempt
    catch { case e: Throwable if missingFile(e) => attempt }
  }

  /** Run `f` over the leaves a root op touches with a BOUNDED driver-
    * side pool (r16): per-leaf commits are pure filesystem sequences
    * (renames + one create-exclusive CAS — no Spark jobs),
    * independent across leaves (separate locks, separate trails), so
    * they parallelize trivially; at object-store
    * latencies this is the difference between `touched × RTT` and
    * `touched/16 × RTT` per batch. Work runs in CHUNKS with the claim
    * heartbeat refreshed between chunks (the refresh rewrites one
    * shared root-level tmp, so it stays on the coordinating thread).
    * Failures propagate with their original exception (CME from a
    * lost CAS included); the chunk boundary bounds how much work can
    * follow a failure. */
  private[operators] def parCommitLeaves[A, B](xs: Seq[A], parallelism: Int = 16,
                                    chunk: Int = 64,
                                    refresh: () => Unit = () => ())(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, xs.size))
      try {
        xs.grouped(chunk).flatMap { grp =>
          val fs = grp.map(x => pool.submit(
            new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
          val out = fs.map { fu =>
            try fu.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }
          refresh()
          out
        }.toSeq
      } finally pool.shutdown()
    }
}
