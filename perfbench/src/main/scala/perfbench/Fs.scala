package perfbench

import java.nio.file.{Files, Path, Paths}

/** Local file-system helpers for the benchmark's working directory. */
object Fs {
  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  def size(path: String): Long = Files.size(Paths.get(path))
}
