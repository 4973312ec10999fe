package graft

import java.net.URI
import org.apache.hadoop.fs.{CommonPathCapabilities, FSDataInputStream,
  FSDataOutputStream, Path}

/** Test-only Hadoop `FileSystem` that stores bytes on the local disk
  * but exposes the NON-POSIX commit semantics `ManifestIo`'s scaladoc
  * documents per scheme — so those claims run as pins instead of
  * prose:
  *
  *  - '''rename refuses an existing destination FILE''' atomically
  *    (the HDFS contract, modeled by `link(2)` + unlink; an existing
  *    destination DIRECTORY still receives the source as a child, also
  *    the HDFS contract — and what Spark's output committer relies
  *    on).
  *  - '''a writer's lease on an open file''' (`LEASE_RECOVERABLE`), so
  *    `putIfAbsent` takes its HDFS branch: stage the body, then
  *    rename it into place — the CAS pin runs against that branch.
  *  - '''one-shot crash mid-write''' (`crashMidWriteOf`): the next
  *    file created whose name contains that string gets only the
  *    first half of its first write on disk — visible to readers, as
  *    HDFS shows acked packets — and the write throws IOException.
  *  - '''one-shot open fault''' (`failNextOpenOf`): the next `open`
  *    of a file with that name throws FileNotFoundException — the
  *    deterministic stand-in for a head manifest GC'd between a
  *    reader's trail listing and its open, driving `readManifested`'s
  *    one-retry.
  *
  * Registered per test via `fs.hdfslike.impl`; instantiated
  * reflectively by `FileSystem.get`, so it must stay a public
  * no-arg-constructible top-level class.
  */
class HdfsLikeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = HdfsLikeFileSystem.Uri

  override def getScheme: String = "hdfslike"

  override def hasPathCapability(p: Path, capability: String): Boolean =
    capability == CommonPathCapabilities.LEASE_RECOVERABLE ||
      super.hasPathCapability(p, capability)

  override def rename(src: Path, dst: Path): Boolean =
    if (!pathToFile(src).isFile || pathToFile(dst).isDirectory) super.rename(src, dst)
    else
      try {
        java.nio.file.Files.createLink(pathToFile(dst).toPath, pathToFile(src).toPath)
        java.nio.file.Files.delete(pathToFile(src).toPath)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.NoSuchFileException => false
      }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    val fault = HdfsLikeFileSystem.crashMidWriteOf.get()
    if (fault == null || !f.getName.contains(fault) ||
        !HdfsLikeFileSystem.crashMidWriteOf.compareAndSet(fault, null)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len / 2)
        out.hflush()
        throw new java.io.IOException(s"injected crash mid-write: $f")
      }
      override def close(): Unit = out.close()
    }, null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val fault = HdfsLikeFileSystem.failNextOpenOf.get()
    if (fault != null && f.getName == fault &&
        HdfsLikeFileSystem.failNextOpenOf.compareAndSet(fault, null))
      throw new java.io.FileNotFoundException(s"injected open fault: $f")
    super.open(f, bufferSize)
  }
}

object HdfsLikeFileSystem {
  val Uri: URI = URI.create("hdfslike:///")
  /** File NAME whose next open throws FileNotFoundException (one-shot). */
  val failNextOpenOf = new java.util.concurrent.atomic.AtomicReference[String]()
  /** Part of a file name whose next create crashes mid-write (one-shot). */
  val crashMidWriteOf = new java.util.concurrent.atomic.AtomicReference[String]()
}
