package perfbench

import java.io.File

object Files {

  def delete(path: String): Unit = deleteTree(new File(path))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Every regular file under `root`, with its size. */
  def sizes(root: String): Map[String, Long] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(new File(root)).filter(_.isFile).map(f => f.getPath -> f.length).toMap
  }
}
