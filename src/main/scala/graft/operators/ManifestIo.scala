package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path,
  StreamCapabilities}

/** The filesystem seam under [[Warehouse]]'s manifest/pointer commit
  * protocol: every byte of table-metadata IO (pointer reads, manifest
  * commits, generation renames/GC walks) routes through
  * `org.apache.hadoop.fs.FileSystem`, resolved per-path from the
  * Hadoop configuration — so the SAME commit code runs against
  * `file:`, `hdfs:`, or an object-store connector (`s3a:` etc.), and
  * the per-store commit semantics live in ONE place, documented at
  * each primitive instead of implied by POSIX calls.
  *
  * Per-scheme commit semantics (the 100 TB deployment notes):
  *
  *  - '''file:''' — the local filesystem resolves to the RAW local
  *    FileSystem (not the checksummed wrapper, which would shadow
  *    every pointer with `.crc` siblings and silently drop fsync):
  *    [[replace]] is POSIX `rename(2)` (atomic, overwrites),
  *    [[putIfAbsent]] is `O_EXCL` create (atomic), and the synced
  *    writes / [[syncDir]] are real `fsync(2)` — byte-for-byte the
  *    pre-r13 `java.nio` behavior, now behind the seam.
  *  - '''hdfs:''' — `create(overwrite=false)` is atomic at the
  *    NameNode (putIfAbsent holds); plain `rename` refuses an
  *    existing destination, so [[replace]] falls back to
  *    delete-then-rename with a documented pointer-absent instant
  *    (readers retry through `readManifested`'s one-retry contract);
  *    `hsync` is a real pipeline flush; directory sync is the
  *    NameNode journal's job (no-op here).
  *  - '''object stores (s3a:, gs:, abfs:)''' — rename is
  *    copy+delete (NOT atomic) and fsync does not exist: a production
  *    deployment makes the pointer a CONDITIONAL-PUT object
  *    (if-match/if-none-match — S3/GCS/Azure all offer it; the
  *    connector surfaces create-exclusive for putIfAbsent on recent
  *    releases) and relies on PUT-durable-on-ack instead of fsync.
  *    [[replace]]'s fallback works but its non-atomic window means
  *    pointer swaps should go through the store's conditional PUT in
  *    anger — the protocol above it (immutable `_manifest-v` trail,
  *    CAS on version, `_current` as a cache of the head) is already
  *    shaped for exactly that substitution.
  */
private[graft] object ManifestIo {

  /** Resolve `dir` to its (FileSystem, fully-qualified Path). Local
    * paths resolve to the RAW local filesystem: the checksummed
    * `LocalFileSystem` would write `.crc` siblings beside every
    * pointer/manifest (polluting the layout contract) and its output
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
    * files)" — callers catch FNF to mean "pointer/manifest absent",
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

  /** Write `body` then force it to stable storage where the stream
    * can (`hsync`; capability-checked so stores without sync — object
    * stores, which are PUT-durable-on-ack instead — skip it rather
    * than pretend). */
  private def writeSynced(fs: FileSystem, p: Path, body: String,
                          overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
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
    * On `file:` the claim is CONTENT-ATOMIC (r19): the body is staged
    * to a unique dot-prefixed tmp sibling, fsynced, then `link(2)`d
    * into place — `Files.createLink` fails with EEXIST atomically
    * (the O_EXCL-grade CAS) and the claimed name appears WITH its
    * full bytes, never empty. The previous form (O_EXCL create, then
    * write) left a claimed-but-empty window in which a reader rolling
    * forward from a missed pointer could resolve an EMPTY head
    * trailer — see [[graft.operators.Warehouse]]'s headBody, which
    * also defends in depth by walking past blank trail heads, because
    * the window still exists off-`file:`: HDFS `create(overwrite =
    * false)` claims at the NameNode before any byte is written (tiny
    * window, covered by the reader's blank-head walk + one-retry
    * contract), and an object-store deployment replaces this whole
    * primitive with the store's conditional PUT, which is
    * content-atomic by construction. */
  def putIfAbsent(fs: FileSystem, p: Path, body: String): Boolean =
    try {
      if (fs.getUri.getScheme == "file") {
        import java.nio.file.{Files, Paths, StandardOpenOption => O}
        val dst = Paths.get(p.toUri.getPath)
        // unique per attempt: two writers racing the same claim must
        // never share a staging file (a shared name could link the
        // LOSER's bytes under the winner's claim)
        val tmp = Files.createTempFile(dst.getParent,
          s".${dst.getFileName}.claim", "")
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
      } else writeSynced(fs, p, body, overwrite = false)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  /** Atomically replace `dst` with `body` (the `_current` pointer
    * swap): synced tmp write, then rename. On `file:` the rename is
    * POSIX `rename(2)` — atomic, overwriting; a store whose rename
    * refuses an existing destination (HDFS contract) falls back to
    * delete+rename, whose pointer-absent instant is covered by the
    * reader's one-retry contract; an object-store deployment uses the
    * store's conditional PUT for this swap instead (scaladoc above). */
  def replace(fs: FileSystem, dst: Path, body: String): Unit = {
    val tmp = new Path(dst.getParent, "._current.tmp")
    writeSynced(fs, tmp, body, overwrite = true)
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"cannot commit pointer $dst")
    }
    syncDir(fs, dst.getParent)
  }

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
    * adoption moves, swap staging — never the pointer overwrite). */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"cannot rename $src -> $dst")

  def delete(fs: FileSystem, p: Path): Unit = { fs.delete(p, true); () }
}
