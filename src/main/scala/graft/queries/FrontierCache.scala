package graft.queries

import org.apache.spark.sql.SparkSession

/** Content-keyed memo of per-table scalar statistics the streaming
  * maintenance loops re-derive every micro-batch (r22, guide §1/§5 —
  * remove driver-side jobs from the per-batch floor).
  *
  * Every two-table `maintainBatch` (BM25 postings/dl, LSH
  * bands/shingles) opens with "what is this table's indexed frontier?" —
  * a pushed `max(doc_id)` aggregate. The aggregate is manifest-cheap
  * but still a full Spark job (plan + schedule + one task wave), and a
  * drain pays TWO of them per micro-batch before doing any work; at
  * 3-commit gate scale that is 6 jobs per query invocation, at
  * production scale 2 jobs per batch forever.
  *
  * The frontier is a pure function of table CONTENT, so it memoizes
  * exactly like [[graft.Tables]]' relation cache: keyed by the table's
  * content fingerprint (manifest version + live shard files/rows/CRCs
  * — version alone is NOT enough, a pristine-seed restore rolls the
  * version sequence back, same argument as Bm25Store.tableFp). Any
  * committed mutation — append, compaction, DML patch, restore, rmrf +
  * rebuild — changes the fingerprint and re-resolves with the real
  * aggregate; a repeated read of the SAME state costs one manifest
  * read (~50 µs) instead of a job (~30–80 ms). NO results are cached:
  * the memoized value is a table statistic revalidated against the
  * table's own durable manifest, never reused across content states.
  *
  * After its appends (and the row-preserving self-compactions that
  * follow them) each `maintainBatch` re-seeds both tables' entries via
  * [[update]] with the frontier the batch just established, instead of
  * paying a recompute on the next batch. `update` is only sound for
  * frontier-advancing or row-preserving writers; its four call sites,
  * the post-append updates in `Bm25Store`/`LshStore`, qualify.
  */
private[queries] object FrontierCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  private def fp(dir: String): Option[String] =
    try {
      val m = graft.kv.KvStore.readMeta(dir)
      Some(m.version.toString + "|" +
        m.shards.map(sh => s"${sh.file}:${sh.rows}:${sh.crc32cHex}")
          .sorted.mkString("|"))
    } catch { case _: Exception => None }

  /** The table's frontier at its CURRENT content, memoized. `compute`
    * runs when the content fingerprint is new (or unreadable — then
    * nothing is cached). */
  def frontier(s: SparkSession, dir: String)(compute: => Long): Long =
    fp(dir) match {
      case None => compute
      case Some(f) =>
        cache.get(dir) match {
          case Some((cf, v)) if cf == f => v
          case _ =>
            val v = compute
            cache.put(dir, (f, v)): Unit
            v
        }
    }

  /** Seed the entry for `dir`'s CURRENT content with a frontier the
    * caller just established (the append's own delta max). */
  def update(dir: String, frontierValue: Long): Unit =
    fp(dir).foreach(f => cache.put(dir, (f, frontierValue)): Unit)

  /** Test hook: drop all entries. */
  private[queries] def clear(): Unit = cache.clear()
}
