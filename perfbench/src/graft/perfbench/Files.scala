package graft.perfbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}

/** Plain local-filesystem helpers for the run's private directories. */
object Files {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk) else Iterator(f)

  def treeBytes(f: File): Long = if (f.exists) walk(f).map(_.length).sum else 0L

  def fileCount(f: File): Long = if (f.exists) walk(f).size.toLong else 0L

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles).toSeq.flatten.foreach(c => copyTree(c, new File(dst, c.getName)))
    } else if (src.exists) {
      JFiles.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  /** Directories named `graft_*_memo_*` anywhere under `root`. */
  def memoDirs(root: File): Set[String] = {
    def go(f: File): Iterator[String] =
      if (!f.isDirectory) Iterator.empty
      else if (f.getName.startsWith("graft_") && f.getName.contains("_memo_") &&
          !f.getName.contains("__tmp_")) Iterator(f.getPath)
      else Option(f.listFiles).iterator.flatten.flatMap(go)
    go(root).toSet
  }
}
