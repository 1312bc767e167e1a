package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Scratch dirs under `java.io.tmpdir` that tools and tests create. */
object TempDirs {

  /** Deletes `dir` and everything under it (links are removed, not
    * followed); a missing dir is a no-op. */
  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  /** A fresh temp dir that is deleted, with its contents, when the JVM
    * exits. */
  def deletedOnExit(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete(dir))
    dir
  }
}
