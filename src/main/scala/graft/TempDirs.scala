package graft

import java.nio.file.{Files, Path, Paths}

/** The two temp-dir conventions of the engine and its mains, each
  * written once.
  */
object TempDirs {

  /** `java.io.tmpdir/graft_<name>_<pid>_<sf>`: one dir per process per
    * scale factor, rewritten in place by repeated runs, so it is bounded
    * on disk and never accumulates. The pid keeps concurrent JVMs off
    * each other's dirs; the sf basename keeps a second scale factor in
    * the same JVM from clobbering files under a first one's DataFrame. */
  def pidScoped(name: String, sfDir: String): String =
    Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${ProcessHandle.current().pid()}_${Paths.get(sfDir).getFileName}")
      .toString

  /** Runs `body` on a fresh temp dir and deletes the dir afterwards,
    * also when `body` throws. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
