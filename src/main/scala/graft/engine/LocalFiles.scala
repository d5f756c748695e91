package graft.engine

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.network.util.JavaUtils

/** Local-filesystem primitives: the one commit discipline that the
  * manifest, the snapshot commit markers and the `_VERSION` pointer share,
  * and the scratch directories of the catalog, the probes and the tests.
  */
object LocalFiles {

  /** Write `content` to `<path>.tmp`, then rename it over `path`
    * atomically. A crash before the rename leaves the previous file (or
    * none) in place, so a reader never sees a partial one; a leftover
    * `<path>.tmp` is not a commit.
    */
  def atomicWrite(path: Path, content: String): Unit = {
    val tmp = Paths.get(s"$path.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // one shutdown hook deletes them in turn: DataFrames read a scratch
  // directory lazily, so no earlier point is known to be safe
  private lazy val scratchDirs = {
    val dirs = new ConcurrentLinkedQueue[File]
    sys.addShutdownHook(dirs.forEach(d => JavaUtils.deleteRecursively(d)))
    dirs
  }

  /** A fresh directory under `java.io.tmpdir`, deleted with everything in
    * it when the JVM exits.
    */
  def scratchDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    scratchDirs.add(d)
    d.toString
  }
}
