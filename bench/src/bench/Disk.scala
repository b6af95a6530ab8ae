package bench

import java.io.File

/** Small local-file helpers (the benchmark only ever touches its own
  * work directory). */
object Disk {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def walk(f: File, keep: File => Boolean): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filter(keep).flatMap(walk(_, keep))
    else if (f.exists) Seq(f)
    else Nil

  /** Spark's rule: a leading `.` or `_` hides an entry, except a
    * partition directory (`__batch_id=3`). */
  private def visible(f: File) = {
    val n = f.getName
    !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
  }

  /** Data files under `dir`: Spark's hidden checksum, marker and staging
    * entries excluded. */
  def dataFiles(dir: String): Seq[File] = walk(new File(dir), visible)

  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  /** Every byte under `dir`, checksums included. */
  def allBytes(dir: String): Long = walk(new File(dir), _ => true).map(_.length).sum
}
