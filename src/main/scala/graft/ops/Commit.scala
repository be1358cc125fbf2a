package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit protocol for output directories: a directory is complete
  * only once it carries the [[Marker]] file, written after the job that
  * produced it finished. A directory without it is a partial write (a
  * crash between task commits, speculative leftovers, FileOutputCommitter
  * v2 partials) and is rewritten, never trusted.
  */
object Commit {
  val Marker = "_COMMITTED"

  def committed(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, Marker))

  def mark(fs: FileSystem, dir: Path): Unit = fs.create(new Path(dir, Marker), true).close()

  /** Write `dir` once: skip it if it is committed (`None`); otherwise run
    * `write`, which must overwrite `dir` whole, then mark it and return
    * `write`'s result.
    */
  def once[T](fs: FileSystem, dir: Path)(write: => T): Option[T] =
    if (committed(fs, dir)) None
    else {
      val r = write
      mark(fs, dir)
      Some(r)
    }
}
