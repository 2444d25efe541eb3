package graft.util

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The one recursive delete, cache key and atomic file write shared by
  * the stores, the query builders, the mains and the stress harness. */
private[graft] object Dirs {

  /** Delete `f` and everything under it; a missing path is a no-op.
    * `listFiles` returns null for a directory that vanished or cannot be
    * read mid-walk, so the listing is null-guarded. */
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete(): Unit
  }

  /** Cache key for a corpus dir: basename AND a full-path hash, so
    * same-named corpora in different locations never share a cache
    * entry. Every persisted index root and KV table cache keys through
    * it — changing it silently rebuilds all of them. */
  def cacheKey(dir: String): String = {
    val f = new File(dir)
    s"${f.getName}-${Integer.toHexString(f.getAbsolutePath.hashCode)}"
  }

  /** Replace `f` with `bytes` all-or-nothing: write `<f>.tmp`, then
    * `ATOMIC_MOVE` it over `f`. A crash leaves either the old file or
    * the new one, never a torn prefix. */
  def writeAtomic(f: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(s"${f.getPath}.tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, f.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }
}
