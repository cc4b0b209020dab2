package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The visible data files under a table directory, by Spark's own rule:
  * any path segment starting with `_` or `.` is hidden. */
object DataFiles {
  def list(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
        root.relativize(p).iterator().asScala
          .forall(seg => !seg.toString.startsWith("_") && !seg.toString.startsWith("."))
      }.toList
      finally s.close()
    }
  }

  def bytes(dir: String): Long = list(dir).map(Files.size).sum

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
