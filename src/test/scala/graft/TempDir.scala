package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** A fresh temporary directory for one test body, deleted with everything
  * in it when the body ends, whether it passed or failed. */
object TempDir {
  def apply[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val all = Files.walk(dir)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally all.close()
    }
  }
}
