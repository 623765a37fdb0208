package graft

/** The recursive delete every scratch, layout and spill directory goes
  * through. Best effort: a file that cannot be deleted is left in
  * place, and a directory whose listing fails (`listFiles` returns null,
  * as it does for a directory deleted underneath the walk) is skipped. */
object FileTree {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
