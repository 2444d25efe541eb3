package graft.kv

import java.io.File
import java.util.UUID

import scala.collection.mutable

import graft.util.Dirs.rmrf

/** Shard compaction — the LSM-style maintenance step that keeps the
  * table healthy under the chunked write path: many small sorted runs
  * (bounded-memory writers roll a shard per chunk; streaming appends add
  * one per micro-batch) merge into region-sized shards, restoring
  * plan-time pruning selectivity (fewer, tighter key ranges) and large
  * sequential reads.
  *
  * The reference has no write path at all, so no compaction either; this
  * mirrors what its backing store's region server does internally
  * (minor compaction of HFiles) re-expressed over the shard manifest.
  *
  * Correctness contract: the record MULTISET is preserved exactly — a
  * k-way streaming merge by key keeps global sort order within each
  * output shard, and records with EQUAL keys keep their manifest order
  * (stable tie-break by input shard index), so scans read the same rows
  * before and after. Memory is O(k) current records, never a full shard.
  *
  * Concurrency: the swap (re-read manifest − inputs + outputs) runs
  * under [[KvStore.withTableLock]], the same lock batch commits and
  * streaming epoch commits take — so a writer commit can neither lose
  * its shards to the swap nor resurrect compacted inputs. With
  * `retainInputs = true` (the concurrent-scan-safe mode, ≙ the
  * reference store's HFile archive), input files STAY on disk after
  * leaving the manifest, so scans that planned against the
  * pre-compaction manifest still open them; [[vacuum]] deletes
  * unreferenced shard files once they are older than a grace period
  * covering the longest-running scan. `retainInputs = false` deletes
  * inputs immediately — for maintenance windows with no concurrent
  * scans. Do not compact a table serving as a LIVE micro-batch
  * streaming source: the stream's offset is a manifest position, which
  * the swap rewrites.
  */
object KvCompactor {

  /** Compact `tableDir`, merging adjacent small shards into outputs of
    * roughly `targetBytes` of file data each. Returns the number of
    * output shards written (0 = nothing worth compacting). */
  def compact(tableDir: String, targetBytes: Long,
              retainInputs: Boolean = false): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = KvStore.readMeta(tableDir).shards
    if (before.length <= 1) return 0

    val sizeOf: KvShardMeta => Long = s => new File(s"$tableDir/${s.file}").length()

    // bucketed shards merge only WITHIN their bucket: a cross-bucket
    // merge would produce a shard serving two partition keys and break
    // the storage-partitioned-join invariant (shard ⊆ one bucket).
    // Unbucketed tables have the single bucket group -1 — unchanged
    // behavior. Within each bucket, order shards by key range so merged
    // outputs stay range-tight, then greedily group ADJACENT
    // (key-ordered) shards under the size bound.
    val toMerge: Seq[Seq[KvShardMeta]] =
      before.groupBy(s => (s.bucket, s.bucketMod)).toSeq.sortBy(_._1)
        .flatMap { case (_, bucketShards) =>
        val ordered = bucketShards.sortWith((a, b) => {
          val c = BytesCodec.compareKeys(a.minKey, b.minKey)
          if (c != 0) c < 0 else BytesCodec.compareKeys(a.maxKey, b.maxKey) < 0
        })
        val groups = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[KvShardMeta])
        var acc = 0L
        ordered.foreach { s =>
          val sz = sizeOf(s)
          if (groups.last.nonEmpty && acc + sz > targetBytes) {
            groups += mutable.ArrayBuffer.empty[KvShardMeta]
            acc = 0L
          }
          groups.last += s
          acc += sz
        }
        groups.filter(_.length > 1).map(_.toSeq)
      }
    if (toMerge.isEmpty) return 0

    val token = UUID.randomUUID().toString.substring(0, 8)
    var seq = 0
    val outputs = mutable.ArrayBuffer.empty[KvShardMeta]
    val inputs = mutable.ArrayBuffer.empty[KvShardMeta]
    // integrity gate: merge readers run with verifyCrc, so a bit-rotted
    // input fails its group's merge BEFORE the manifest swap — corruption
    // can never spread into a committed shard and outlive the evidence
    // (the corrupt original would get deleted/vacuumed after the swap)
    toMerge.foreach { group =>
      val name = f"shard-compact-$token-c$seq.kv"
      seq += 1
      outputs ++= mergeGroup(tableDir, group, name)
      inputs ++= group
    }

    swapCompacted(tableDir, inputs.toSeq, outputs.toSeq, retainInputs)
  }

  /** The locked commit of a compaction: replace `inputs` with `outputs`
    * in the manifest. The merge itself runs OUTSIDE the lock (it can be
    * long; writers must not block on it), so this swap validates
    * optimistically: if any input already left the manifest, a
    * concurrent compactor picked the same groups and swapped first —
    * appending our outputs then would DUPLICATE every record in them.
    * In that case our outputs are discarded and 0 is returned; the
    * other compactor's result stands. Package-private so the abort
    * branch is directly testable. */
  private[kv] def swapCompacted(tableDir: String, inputs: Seq[KvShardMeta],
                                outputs: Seq[KvShardMeta],
                                retainInputs: Boolean): Int =
    // retain mode starts the vacuum grace clock NOW: the guarantee is
    // "grace since the file left the manifest", but vacuum can only see
    // mtimes — an input WRITTEN long ago would otherwise be reclaimable
    // the instant it is superseded, breaking both in-flight scans and
    // snapshot reads planned minutes earlier. The commit bumps BEFORE
    // the swap: a bump failure after it would throw out of a compaction
    // that already succeeded. On a failed bump the outputs are discarded
    // and the swap aborts cleanly with 0, leaving the table untouched.
    KvStore.commit(tableDir)(_ => KvEdit(outputs,
      remove = inputs.map(_.file).toSet, deleteRemoved = !retainInputs)) match {
      case KvStore.Committed => outputs.length
      case _ => 0
    }

  /** Delete shard files no longer referenced by the manifest whose
    * last modification is older than `graceMs` — the cleanup half of
    * retain-mode compaction. The grace period must exceed the longest
    * concurrent scan (a scan opens files it planned from a manifest at
    * most one scan-lifetime ago). Archived manifests (`_kvmeta.v*.json`,
    * the snapshot-read history) expire on the same clock. Returns the
    * number of files removed (shards + archived manifests). */
  def vacuum(tableDir: String, graceMs: Long): Int =
    vacuumAt(tableDir, System.currentTimeMillis() - graceMs)

  /** [[vacuum]] with the cutoff instant injected — the grace boundary
    * is INCLUSIVE (a file whose mtime equals the cutoff is reclaimed):
    * retain-mode compaction bumps input mtimes to "now" before its
    * manifest swap, so a compact-then-vacuum(graceMs=0) maintenance
    * pass can land in the SAME millisecond as the bump; an exclusive
    * compare would then silently reclaim nothing. */
  private[kv] def vacuumAt(tableDir: String, cutoff: Long): Int = {
    KvStore.withTableLock(tableDir) {
      val live = KvStore.readMeta(tableDir).shards.map(_.file).toSet
      // archived manifests expire on the same grace clock as the shard
      // files their snapshot reads depend on — past it, neither remains
      val all = Option(new File(tableDir).listFiles()).getOrElse(Array.empty)
      val stale = all
        .filter(f => (f.getName.endsWith(".kv") && !live(f.getName) ||
            f.getName.startsWith("_kvmeta.v") && f.getName.endsWith(".json")) &&
          f.lastModified() <= cutoff)
      stale.foreach(_.delete())
      // bloom sidecars ride their base shard's lifecycle: once the base
      // file is gone (this pass or an earlier one), the sidecar follows
      val orphanBlooms = all.filter { f =>
        f.getName.endsWith(".kv.bloom") &&
        !live(f.getName.stripSuffix(".bloom")) &&
        !new File(tableDir, f.getName.stripSuffix(".bloom")).exists()
      }
      orphanBlooms.foreach(_.delete())
      // champion sidecars (r22): `_champ/<fp>` dirs superseded by later
      // index states and crashed `tmp-<uuid>` builders expire on the
      // SAME grace clock as shards. The newest fingerprint dir is kept
      // unconditionally — it is the live sidecar in every steady flow,
      // and grace-0 maintenance cycles (q135/q136's every-batch
      // compact+vacuum) run between batches, so reclaiming it would
      // force a rebuild on the next probe for no space gain.
      val champRoot = new File(tableDir, "_champ")
      val champReclaimed =
        if (!champRoot.isDirectory) 0
        else {
          val kids = Option(champRoot.listFiles()).getOrElse(Array.empty)
          val tmps = kids.filter(f =>
            f.getName.startsWith("tmp-") && f.lastModified() <= cutoff)
          val fps = kids.filterNot(_.getName.startsWith("tmp-"))
          val newest = fps.sortBy(-_.lastModified()).headOption.map(_.getName)
          val staleFps = fps.filter(f =>
            !newest.contains(f.getName) && f.lastModified() <= cutoff)
          (tmps ++ staleFps).foreach(rmrf)
          tmps.length + staleFps.length
        }
      stale.length + orphanBlooms.length + champReclaimed
    }
  }

  /** K-way streaming merge of one group into one shard file. */
  private def mergeGroup(tableDir: String, group: Seq[KvShardMeta],
                         fileName: String): Option[KvShardMeta] = {
    require(!new File(s"$tableDir/$fileName").exists(),
      s"compaction output $fileName already exists")
    // heap of (current record, shard index, reader); shard index keeps
    // equal-key records in their pre-compaction manifest order
    final case class Head(rec: KvRecord, idx: Int, it: KvStore.ShardReader)
    implicit val ord: Ordering[Head] = new Ordering[Head] {
      def compare(a: Head, b: Head): Int = {
        val c = BytesCodec.compareKeys(a.rec.key, b.rec.key)
        if (c != 0) -c else -(a.idx - b.idx) // PriorityQueue is a MAX-heap
      }
    }
    // verifyCrc: the merge reads every input byte anyway, so integrity
    // verification rides the same pass for free — a bit-rotted input
    // throws at its EOF, before the manifest swap can commit the merge
    val readers = group.zipWithIndex.map { case (s, i) =>
      (new KvStore.ShardReader(tableDir, s, verifyCrc = true), i)
    }
    val heap = mutable.PriorityQueue.empty[Head]
    readers.foreach { case (r, i) => if (r.hasNext) heap.enqueue(Head(r.next(), i, r)) }
    // Zone-map merge needs no schema: bounds are stored in the
    // order-preserving key encoding, so the merged extreme per column is
    // a plain byte-order min/max. A column may carry stats only if EVERY
    // input has them (an input without stats may still hold values
    // anywhere in the domain — its extremes are unknown).
    val mergedStats: Map[String, (String, String)] = group.head.stats.keySet
      .filter(k => group.forall(_.stats.contains(k)))
      .map { k =>
        val bounds = group.map(_.stats(k))
        val mn = bounds.map(b => KvStore.fromHex(b._1))
          .min(Ordering.fromLessThan[Array[Byte]](BytesCodec.compareKeys(_, _) < 0))
        val mx = bounds.map(b => KvStore.fromHex(b._2))
          .max(Ordering.fromLessThan[Array[Byte]](BytesCodec.compareKeys(_, _) < 0))
        k -> (KvStore.toHex(mn), KvStore.toHex(mx))
      }.toMap

    // bloom union (bit-OR): defined only when every input carries a
    // compatible sidecar — otherwise the merged shard goes bloom-less,
    // which only costs pruning, never correctness
    val mergedBloom: Option[KvBloom.ShardBloom] =
      if (group.forall(_.bloom.nonEmpty)) {
        val loaded = group.map(s => KvBloom.read(s"$tableDir/${s.bloom}"))
        if (loaded.forall(_.isDefined)) KvBloom.union(loaded.map(_.get)) else None
      } else None

    val w = new KvStore.ShardWriter(tableDir, fileName)
    var done = false
    try {
      while (heap.nonEmpty) {
        val h = heap.dequeue()
        w.append(h.rec)
        if (h.it.hasNext) heap.enqueue(Head(h.it.next(), h.idx, h.it))
      }
      done = true
      w.close().map { m =>
        val withBloom = mergedBloom.map { b =>
          val sc = KvBloom.sidecarName(fileName)
          KvBloom.write(s"$tableDir/$sc", b)
          m.copy(bloom = sc)
        }.getOrElse(m)
        // group ⊆ one bucket by construction (see compact's grouping);
        // lineage = the EARLIEST input: a merged shard's rows are only
        // as new as the oldest rows in it, so an incremental read can
        // never re-serve compacted-away history as fresh
        withBloom.copy(stats = mergedStats, bucket = group.head.bucket,
          bucketMod = group.head.bucketMod,
          firstVersion = group.map(_.firstVersion).min)
      }
    } finally {
      readers.foreach(_._1.close())
      if (!done) {
        // failure mid-merge: close the stream and remove the partial file
        try w.close() catch { case _: Exception => () }
        new File(s"$tableDir/$fileName").delete()
      }
    }
  }
}
