package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** File-tree helpers for the catalog and data directories. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  /** Total bytes of the regular files under `p` (0 if it does not exist). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  /** Number of direct subdirectories of `p` whose name matches `re`. */
  def countDirs(p: Path, re: String): Int =
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(c => Files.isDirectory(c) && c.getFileName.toString.matches(re))
      finally s.close()
    }
}
