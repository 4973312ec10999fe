package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CommonPathCapabilities, FileStatus, FileSystem,
  LocalFileSystem, Path, StreamCapabilities}

/** The filesystem seam under [[Warehouse]]'s manifest commit
  * protocol: every byte of table-metadata IO (manifest reads and
  * commits, generation renames/GC walks) routes through
  * `org.apache.hadoop.fs.FileSystem`, resolved per-path from the
  * Hadoop configuration — so the SAME commit code runs against
  * `file:`, `hdfs:`, or an object-store connector (`s3a:` etc.), and
  * the per-store commit semantics live in ONE place, documented at
  * each primitive instead of implied by POSIX calls.
  *
  * [[putIfAbsent]] — the create-exclusive claim of an immutable
  * `_manifest-v` / `_root-manifest-T` — is the ONLY commit primitive:
  * a leaf's and a root's head is the newest claimed version of its
  * trail, and no file is ever overwritten to publish a commit.
  * Per-scheme semantics of that claim (the 100 TB deployment notes):
  *
  *  - '''file:''' — the local filesystem resolves to the RAW local
  *    FileSystem (not the checksummed wrapper, which would shadow
  *    every manifest with `.crc` siblings and silently drop fsync):
  *    the claim is a staged, fsynced body `link(2)`ed into place
  *    (atomic, content-complete), and the synced writes /
  *    [[syncDir]] are real `fsync(2)`.
  *  - '''hdfs:''' (stores that keep a writer's lease on an open
  *    file, `LEASE_RECOVERABLE`) — readers see a file's bytes as the
  *    pipeline acks them, so a body written in place under its claimed
  *    name could be read cut off. The claim is a staged, hsynced,
  *    closed body `rename`d into place: the NameNode refuses an
  *    existing destination atomically (the CAS) and the name appears
  *    with its full bytes. Directory sync is the NameNode journal's
  *    job (no-op here).
  *  - '''object stores (s3a:, gs:, abfs:)''' — the claim is the
  *    store's CONDITIONAL PUT (if-none-match — S3/GCS/Azure all offer
  *    it; the connector surfaces create-exclusive on recent releases),
  *    content-atomic by construction and durable on ack, so no fsync
  *    is needed. Rename is copy+delete (NOT atomic); the protocol
  *    renames only generation directories and files that no claimed
  *    manifest references yet.
  */
private[graft] object ManifestIo {

  /** Resolve `dir` to its (FileSystem, fully-qualified Path). Local
    * paths resolve to the RAW local filesystem: the checksummed
    * `LocalFileSystem` would write `.crc` siblings beside every
    * manifest (polluting the layout contract) and its output
    * streams do not implement Syncable (hsync would silently degrade
    * to flush) — raw gives true `fsync(2)` and a clean directory. */
  def resolve(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf) match {
      case l: LocalFileSystem => l.getRaw
      case other => other
    }
    (fs, fs.makeQualified(p))
  }

  def exists(fs: FileSystem, p: Path): Boolean = fs.exists(p)

  def isDirectory(fs: FileSystem, p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  /** The modification time of `p`, None when it is gone — every age
    * and retention-window probe reads a file that a concurrent GC may
    * remove between its listing and this stat. */
  def mtime(fs: FileSystem, p: Path): Option[Long] =
    try Some(fs.getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** List the children of `p`; a missing or non-directory path lists
    * as empty (the `Option(listFiles)` convention this replaces). */
  def list(fs: FileSystem, p: Path): Array[FileStatus] =
    try fs.listStatus(p)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** Read a small metadata file fully. Resource exhaustion must never
    * read as ABSENCE (r19): on the local scheme an fd-starved open
    * throws FileNotFoundException whose message is "(Too many open
    * files)" — callers catch FNF to mean "manifest absent",
    * and a starved process concluding "no committed table" is the
    * silent-wrong answer; rethrow it as the IO failure it is. */
  def readString(fs: FileSystem, p: Path): String = {
    val in =
      try fs.open(p)
      catch {
        case e: java.io.FileNotFoundException
            if e.getMessage != null &&
              e.getMessage.contains("Too many open files") =>
          throw new java.io.IOException(s"fd exhaustion opening $p", e)
      }
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Create `p` exclusively, write `body`, then force it to stable
    * storage where the stream can (`hsync`; capability-checked so
    * stores without sync — object stores, which are PUT-durable-on-ack
    * instead — skip it rather than pretend). */
  private def createSynced(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, false)
    try {
      out.write(body.getBytes("UTF-8"))
      if (out.hasCapability(StreamCapabilities.HSYNC)) out.hsync()
    } finally out.close()
  }

  /** CREATE-EXCLUSIVE commit of an immutable file — the CAS primitive
    * under the `_manifest-v` trail (claim version v by being first to
    * create its file). Returns false if the file already exists (a
    * concurrent writer claimed v).
    *
    * The claim is CONTENT-ATOMIC: the claimed name appears with its
    * full bytes, never empty or cut off (r19).
    *  - On `file:` the body is staged to a unique dot-prefixed sibling
    *    ([[isClaimStaging]]), fsynced, then `link(2)`d into place —
    *    `Files.createLink` fails with EEXIST atomically.
    *  - On lease-keeping stores (HDFS) the staged, hsynced and closed
    *    body is `rename`d into place, which refuses an existing
    *    destination atomically at the NameNode.
    *  - Elsewhere the claim is `create(overwrite = false)` — on an
    *    object store the conditional PUT, whose object appears whole.
    * A crash strands only the staging file, which [[Warehouse.vacuum]]
    * removes once aged; [[graft.operators.Warehouse]]'s trailHead still
    * walks past a blank claim that a store outside these families or
    * an older build leaves. */
  def putIfAbsent(fs: FileSystem, p: Path, body: String): Boolean =
    try {
      if (fs.getUri.getScheme == "file") {
        import java.nio.file.{Files, Paths, StandardOpenOption => O}
        val dst = Paths.get(p.toUri.getPath)
        // unique per attempt: two writers racing the same claim must
        // never share a staging file (a shared name could link the
        // LOSER's bytes under the winner's claim)
        val tmp = Files.createTempFile(dst.getParent, stagingPrefix(p), "")
        try {
          val ch = java.nio.channels.FileChannel.open(tmp, O.WRITE,
            O.TRUNCATE_EXISTING)
          try {
            ch.write(java.nio.ByteBuffer.wrap(body.getBytes("UTF-8")))
            ch.force(true)
          } finally ch.close()
          Files.createLink(dst, tmp)
          syncDir(fs, p.getParent)
        } finally Files.deleteIfExists(tmp)
        true
      } else if (fs.hasPathCapability(p.getParent, CommonPathCapabilities.LEASE_RECOVERABLE)) {
        val tmp = new Path(p.getParent, stagingPrefix(p) + java.util.UUID.randomUUID())
        var won = false
        try { createSynced(fs, tmp, body); won = fs.rename(tmp, p) }
        finally if (!won) fs.delete(tmp, false)
        if (!won && !fs.exists(p))
          throw new java.io.IOException(s"cannot publish claim $p")
        won
      } else { createSynced(fs, p, body); true }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  private def stagingPrefix(p: Path): String = s".${p.getName}.claim."

  /** A [[putIfAbsent]] staging file: debris once aged, as a crashed
    * claim leaves it. */
  def isClaimStaging(name: String): Boolean =
    name.startsWith(".") && name.contains(".claim.")

  /** Directory fsync after a rename — the POSIX durability tail (the
    * Lucene pattern): only the local scheme HAS the concept; HDFS
    * journals renames at the NameNode and object stores have no
    * directories, so both no-op. Best-effort where the platform
    * refuses directory fds. */
  def syncDir(fs: FileSystem, dir: Path): Unit =
    if (fs.getUri.getScheme == "file") {
      try {
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(dir.toUri.getPath),
          java.nio.file.StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } catch { case _: java.io.IOException => }
    }

  /** Move `src` to `dst` failing loudly; dst must not exist (generation
    * adoption moves and staged MERGE placement). */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"cannot rename $src -> $dst")

  def delete(fs: FileSystem, p: Path): Unit = { fs.delete(p, true); () }
}
