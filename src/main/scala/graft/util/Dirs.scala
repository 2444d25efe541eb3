package graft.util

import java.io.File

/** The one recursive delete shared by the stores, the query builders,
  * the mains and the stress harness. */
private[graft] object Dirs {

  /** Delete `f` and everything under it; a missing path is a no-op.
    * `listFiles` returns null for a directory that vanished or cannot be
    * read mid-walk, so the listing is null-guarded. */
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete(): Unit
  }
}
