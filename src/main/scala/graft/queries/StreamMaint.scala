package graft.queries

import java.io.File

import graft.kv.{KvCompactor, KvStore}
import graft.util.Dirs.rmrf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

/** Shared scaffolding for the persisted index stores' maintenance.
  *
  * q132 (BM25 inverted index), q133 (IVF), q134 (LSH sketch) each used
  * to carry a private copy of the same drain driver — rmrf the
  * checkpoint, tail the staged KV feed with `maxVersionsPerTrigger =
  * 1`, foreachBatch into the family's `maintainBatch`,
  * `Trigger.AvailableNow`, clean up the checkpoint. [[drain]] is that
  * driver, once; a new family is one `maintain` lambda. The two-table
  * stores (BM25, LSH) also share their frontier read
  * ([[tableFrontier]]), their both-tables-committed gate
  * ([[committed]]), the seeded steady-state drain ([[seededDrain]],
  * q132/q134) and the every-batch-compaction drain
  * ([[compactedDrain]], q135/q136).
  *
  * [[maybeCompact]] is the one index-table self-compaction: streaming
  * maintenance appends a couple of shards per micro-batch, so a
  * long-lived store fragments without bound, and since our engine owns
  * its storage (the reference delegates this to HBase minor
  * compaction) the index tables must own their compaction too. Past
  * the shard-count threshold it merges toward the bytes-derived target
  * in RETAIN mode — the manifest swap is atomic, superseded files stay
  * on the vacuum grace clock, a probe planned mid-compaction keeps
  * replaying its snapshot — and compaction merges files, never rows,
  * so probe/pairs results are bit-identical across any number of
  * cycles. BM25/LSH tables are read LIVE (no version pin); the IVF
  * store's version-pinned `assigned` table uses the same call and
  * re-pins its meta in the `onSwap` hook
  * ([[IvfStore.maybeCompactAssigned]]). Verified three ways (r19):
  * q135/q136 drain under a forced every-batch cycle pinned to the SAME
  * oracles as q132/q134 (and require the live shard count to end
  * bounded, so an inert compactor fails the gate);
  * StreamMaintCompactSpec drains a 10-commit feed against an
  * uncompacted control and asserts per-batch shard bounds,
  * bit-identical probes/pairs, and grace-0 file reclamation; the
  * stress harness's `compact` section carries the long-run
  * probe-latency rows.
  */
private[graft] object StreamMaint {

  /** Recursive copy (for pristine-state resets: q133 restores the
    * seed-built index before each timed drain). */
  private[graft] def copyDir(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten
        .foreach(f => copyDir(f, new File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES): Unit
  }

  /** Drain a staged versioned-KV feed as micro-batches through
    * `maintain`: one feed commit per batch (`maxVersionsPerTrigger=1`),
    * `AvailableNow` termination, checkpoint created fresh and removed
    * after the drain (the queries' contract is that REPLAY safety
    * comes from the store's own frontier/meta discipline, proven by
    * the worst-case full-replay specs — not from checkpoint reuse). */
  private[graft] def drain(s: SparkSession, feedDir: String,
                           catalogJson: String, ckpt: String,
                           sinceVersion: Option[Long] = None)
                          (maintain: DataFrame => Unit): Unit = {
    rmrf(new File(ckpt))
    try {
      val reader = s.readStream.format("graft-kv")
        .option("catalog", catalogJson).option("path", feedDir)
        .option("maxVersionsPerTrigger", 1)
      val q = sinceVersion.fold(reader)(v => reader.option("sinceVersion", v))
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) => maintain(batch) }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally rmrf(new File(ckpt))
  }

  /** Self-compaction for an index table (BM25 postings/dl, LSH
    * bands/shingles, the IVF `assigned` table): past
    * `graft.ivfCompactShards` live shards (the index-store-wide
    * threshold q119 introduced), merge toward [[IvfStore.indexShards]]'s
    * bytes-derived target in retain mode. `onSwap` runs right after a
    * compaction swap and before any reclamation — the IVF store re-pins
    * its meta there, so a current load never pins reclaimed history.
    * Reclamation stays on the shared `graft.ivfVacuumGraceMs` clock
    * (default -1 = operator). Row-preserving by construction, so the
    * store's frontier (`max(doc_id)`) and every probe are unchanged.
    * Threshold-gated on one metadata read — safe to call after every
    * micro-batch. */
  private[graft] def maybeCompact(s: SparkSession, dir: String,
                                  onSwap: () => Unit = () => ()): Unit = {
    val threshold = s.conf.get("graft.ivfCompactShards", "64").toInt
    val m = KvStore.readMetaOrEmpty(dir)
    if (m.shards.length <= threshold) return
    val totalBytes = m.shards.map(sh => new File(s"$dir/${sh.file}").length()).sum
    val desired = IvfStore.indexShards(s, totalBytes, 1)
    val targetBytes = math.max(1L, totalBytes / desired + 1)
    if (KvCompactor.compact(dir, targetBytes, retainInputs = true) > 0) {
      onSwap()
      System.err.println(
        s"[graft] StreamMaint: compacted the index table at $dir " +
          s"(${m.shards.length} shards past graft.ivfCompactShards=$threshold " +
          s"-> ${KvStore.readMeta(dir).shards.length})")
      val grace = s.conf.get("graft.ivfVacuumGraceMs", "-1").toLong
      if (grace >= 0) {
        val reclaimed = KvCompactor.vacuum(dir, grace)
        if (reclaimed > 0) System.err.println(
          s"[graft] StreamMaint: vacuumed $reclaimed superseded index files at $dir")
      }
    }
  }

  /** Overlap the self-compaction of a store's TWO tables (r22, guide
    * §2.6 — overlap independent work): the per-batch maintenance of
    * every two-table store (BM25 postings+dl, LSH bands+shingles) ran
    * its compactions back-to-back, serializing two independent
    * driver-side k-way merges (different dirs, different table locks,
    * no Spark jobs). Under the forced every-batch cycle (q135/q136)
    * compaction is the dominant driver-side cost, and the two merges
    * overlap to the slower of the two. Row-preserving either way, so
    * ordering never mattered for correctness. */
  private[graft] def maybeCompactBoth(s: SparkSession, dirA: String,
                                      dirB: String): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(dirA, dirB).map { d =>
      val t = new Thread(() =>
        try maybeCompact(s, d)
        catch { case e: Throwable => errs.add(e): Unit })
      t.setName(s"graft-compact-${new File(d).getName}")
      t.start()
      t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** Run `body` with the listed spark confs set, restoring (or
    * unsetting) the prior values afterwards — the compacted-stream
    * queries force an every-batch compaction cycle without leaking the
    * low threshold into the rest of the session. */
  private[graft] def withConfs[T](s: SparkSession, kv: (String, String)*)
                                 (body: => T): T = {
    val saved = kv.map { case (k, _) =>
      k -> (try Some(s.conf.get(k)) catch { case _: Exception => None })
    }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, prior) =>
      prior.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** The "every table committed" gate of the two-table stores (BM25
    * postings+dl, LSH bands+shingles): a crash between the two writes
    * must not leave one complete table whose presence makes every later
    * run skip the rebuild the other one needs. */
  private[graft] def committed(dirs: String*): Boolean =
    dirs.forall(d => new File(s"$d/_kvmeta.json").exists())

  /** One two-table store table's indexed frontier: its pushed
    * `max(doc_id)`, or -1 for an absent or EMPTY table (legal — an
    * empty seed corpus, or seed docs that all sketch to no rows;
    * coalesce turns the null max into -1, which treats everything as
    * the delta). Memoized per table content by [[FrontierCache]]. */
  private[graft] def tableFrontier(s: SparkSession, catalogJson: String,
                                   dir: String): Long =
    if (!committed(dir)) -1L
    else FrontierCache.frontier(s, dir) {
      s.read.format("graft-kv")
        .option("catalog", catalogJson).option("path", dir).load()
        .agg(coalesce(max(col("doc_id")), lit(-1L))).head().getLong(0)
    }

  /** The steady-state maintenance stream of a two-table store (q132
    * BM25, q134 LSH) over the staged document feed: the feed's v1 slice
    * is indexed ONCE through `maintain` into a cached pristine seed
    * pair (`<feed>-<tag>-seed-<a|b>`); each call restores the working
    * pair (`<feed>-<tag>-<a|b>`) from it and drains only the tail
    * versions, so the timed body is tail micro-batches appending against
    * an existing index, never a from-scratch rebuild. Returns the
    * working dirs. */
  private[graft] def seededDrain(s: SparkSession, d: String, tag: String,
                                 a: String, b: String)
                                (maintain: (DataFrame, String, String) => Long)
      : (String, String) = {
    val feed = KvQueries.incDocsDir(s, d)
    val (seedA, seedB) = (s"$feed-$tag-seed-$a", s"$feed-$tag-seed-$b")
    if (!committed(seedA, seedB)) {
      Seq(seedA, seedB).foreach(p => rmrf(new File(p)))
      maintain(s.read.format("graft-kv")
        .option("catalog", KvQueries.docsIncCatalogJson).option("path", feed)
        .option("asOfVersion", 1).load(), seedA, seedB): Unit
    }
    val (dirA, dirB) = (s"$feed-$tag-$a", s"$feed-$tag-$b")
    Seq(dirA, dirB).foreach(p => rmrf(new File(p)))
    copyDir(new File(seedA), new File(dirA))
    copyDir(new File(seedB), new File(dirB))
    drain(s, feed, KvQueries.docsIncCatalogJson, s"$feed-ckpt-$tag",
      sinceVersion = Some(1)) { batch => maintain(batch, dirA, dirB): Unit }
    (dirA, dirB)
  }

  /** The self-compaction proof stream of a two-table store (q135 BM25,
    * q136 LSH): the whole feed drains from scratch into
    * `<feed>-<tag>-<a|b>` under an EVERY-BATCH compaction cycle
    * (`graft.ivfCompactShards = 2`, grace-0 vacuum), and each table must
    * end at most 2 live shards — so a silently inert [[maybeCompact]]
    * fails the gate instead of passing with a fragmented table. Returns
    * the drained dirs. */
  private[graft] def compactedDrain(s: SparkSession, d: String, tag: String,
                                    a: String, b: String)
                                   (maintain: (DataFrame, String, String) => Long)
      : (String, String) = {
    val feed = KvQueries.incDocsDir(s, d)
    val (dirA, dirB) = (s"$feed-$tag-$a", s"$feed-$tag-$b")
    Seq(dirA, dirB).foreach(p => rmrf(new File(p)))
    withConfs(s,
      "graft.ivfCompactShards" -> "2", "graft.ivfVacuumGraceMs" -> "0") {
      drain(s, feed, KvQueries.docsIncCatalogJson, s"$feed-ckpt-$tag") { batch =>
        maintain(batch, dirA, dirB): Unit
      }
    }
    Seq(a -> dirA, b -> dirB).foreach { case (t, p) =>
      val live = KvStore.readMeta(p).shards.length
      require(live <= 2,
        s"self-compaction left the $t table at $live live shards (> threshold 2)")
    }
    (dirA, dirB)
  }
}
