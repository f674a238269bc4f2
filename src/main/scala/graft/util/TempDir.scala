package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** A scratch directory that lives exactly as long as one body: created
  * under the system temp dir, then deleted with everything in it when the
  * body returns or throws. Results that must outlive it have to be
  * materialized (e.g. `localCheckpoint`) inside the body.
  */
object TempDir {
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
