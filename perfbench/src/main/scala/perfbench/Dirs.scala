package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Directory helpers for the benchmark's working directories. */
object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  def bytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}
