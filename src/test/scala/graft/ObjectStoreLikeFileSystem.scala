package graft

import java.net.URI
import org.apache.hadoop.fs.Path

/** Test-only Hadoop `FileSystem` exposing the OBJECT-STORE commit
  * semantics of `ManifestIo`'s third per-scheme family (s3a:/gs:/abfs:)
  * — so those claims run as pins instead of prose:
  *
  *  - '''rename of a FILE is COPY + DELETE, not atomic''': the copy
  *    materializes the destination atomically (a PUT/CopyObject is
  *    atomic — a reader never sees a partial object; modeled as
  *    temp + POSIX rename), then the source is deleted.
  *  - '''rename onto an existing destination FILE refuses''' (the S3A
  *    contract).
  *  - '''create-exclusive through the generic branch''' — `putIfAbsent`
  *    rides `create(overwrite = false)`, standing in for the store's
  *    conditional PUT (if-none-match), the one atomic primitive the
  *    protocol actually needs.
  *
  * DIRECTORY renames delegate to the POSIX parent: they occur only
  * inside Spark's output committer (whose object-store story is its
  * own special committer, out of scope here) — the protocol under
  * test is the manifest commit, which claims FILES only.
  *
  * Every `open`, `create`, `rename` (by source) and `listStatus` is
  * counted per (operation, file name) in `calls` — the storage round
  * trips a read or a commit costs, pinned by name in SinkSpec.
  * Registered per test via `fs.objstore.impl`; must stay a public
  * no-arg-constructible top-level class (instantiated reflectively).
  */
class ObjectStoreLikeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = ObjectStoreLikeFileSystem.Uri

  override def getScheme: String = "objstore"

  override def rename(src: Path, dst: Path): Boolean = {
    ObjectStoreLikeFileSystem.record("rename", src)
    val srcIsFile = try getFileStatus(src).isFile
    catch { case _: java.io.FileNotFoundException => false }
    val dstFileExists = try getFileStatus(dst).isFile
    catch { case _: java.io.FileNotFoundException => false }
    if (!srcIsFile) super.rename(src, dst) // committer dir moves: see scaladoc
    else if (dstFileExists) false
    else {
      // server-side COPY: atomic materialization of dst
      val part = new Path(dst.getParent, s".${dst.getName}.putpart")
      val in = super.open(src, 4096)
      val bytes = try in.readAllBytes() finally in.close()
      val out = super.create(part, true)
      try out.write(bytes) finally out.close()
      if (!super.rename(part, dst))
        throw new java.io.IOException(s"objstore copy: cannot put $dst")
      super.delete(src, false)
      true
    }
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ObjectStoreLikeFileSystem.record("open", f)
    super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    ObjectStoreLikeFileSystem.record("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ObjectStoreLikeFileSystem.record("list", f)
    if (f.getName.startsWith(".gen-") || f.getName.startsWith(".del-"))
      ObjectStoreLikeFileSystem.generationLists.incrementAndGet()
    super.listStatus(f)
  }
}

object ObjectStoreLikeFileSystem {
  val Uri: URI = URI.create("objstore:///")

  /** LIST calls against generation/tombstone directories — the
    * per-object-LIST metadata cost the `#file:` manifest inventory
    * exists to eliminate on the read path. */
  val generationLists = new java.util.concurrent.atomic.AtomicInteger()

  /** Calls per (operation, file name); see the class scaladoc. */
  val calls = new java.util.concurrent.ConcurrentHashMap[(String, String),
    java.util.concurrent.atomic.AtomicInteger]()

  def callCount(op: String, name: String): Int =
    Option(calls.get(op -> name)).fold(0)(_.get)

  private def record(op: String, p: Path): Unit =
    calls.computeIfAbsent(op -> p.getName,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
}
