package graft.sources

import graft.kv.KvStore
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming over a KV table (SURVEY.md §7 stretch — the
  * reference declares spark-streaming as a dependency but never uses it,
  * `HbaseTable.scala:21` excludes streaming capabilities).
  *
  * The offset is the MANIFEST VERSION, and each micro-batch plans the
  * commits in `(start, end]` through the same log replay incremental
  * batch reads use ([[KvStore.deltaShards]]): version W contributes
  * exactly the shards it ADDED (lineage tag `firstVersion == W`), so
  * maintenance commits — compaction, DELETE, UPDATE — contribute
  * NOTHING and a running stream stays exactly-once under concurrent
  * maintenance. (The previous offset design counted manifest
  * POSITIONS, which a compaction swap renumbers — a mid-stream compact
  * could double-serve merged rows or skip fresh ones. Offsets are now
  * positions in the COMMIT LOG, which maintenance never rewrites.)
  *
  * The initial batch (start = 0) is the full state snapshot at `end` —
  * the file source's "existing files" semantics — and every later
  * batch is pure appends. Replays are deterministic: a checkpointed
  * `(start, end]` re-plans from the immutable archived manifests, and
  * a window vacuumed past retention fails loudly ("unavailable")
  * instead of silently skipping.
  *
  * Pushed filters and column pruning apply per micro-batch exactly as
  * in batch scans (same [[KvScan.select]] shard selection, same reader
  * factory and bloom gate).
  */
case class KvOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

class KvMicroBatchStream(dir: String, rowkeyName: String,
                         prunedSchema: StructType, declared: StructType,
                         filters: Array[Filter], columnar: Boolean = true,
                         startVersion: Long = 0L,
                         maxVersionsPerTrigger: Long = 0L,
                         maxBytesPerTrigger: Long = 0L,
                         buckets: Int = 0,
                         eventTime: Option[KvEventTime] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Missing manifest = table not yet written → version 0 (the file
    * source tolerates an initially empty directory the same way). */
  private def currentVersion(): Long =
    if (new java.io.File(KvStore.metaPath(dir)).exists())
      KvStore.readMeta(dir).version
    else 0L

  /** Trigger.AvailableNow support (round 13 — without it Spark falls
    * back to a SINGLE Trigger.Once batch and IGNORES the admission
    * caps, which is precisely the unbounded unit of retry
    * `maxVersionsPerTrigger`/`maxBytesPerTrigger` exist to prevent).
    * "Available now" is pinned to the manifest version captured HERE;
    * the drain then proceeds as normal rate-limited micro-batches
    * ([[latestOffset(start, limit)]] caps each step) until the pinned
    * end, never past it — a writer appending mid-drain is the next
    * run's work, exactly the file source's semantics. */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(currentVersion())

  /** The live head, clipped to the AvailableNow capture if one is set. */
  private def headVersion(): Long = {
    val cur = currentVersion()
    availableNowEnd.fold(cur)(math.min(cur, _))
  }

  override def latestOffset(): Offset = KvOffset(headVersion())

  /** Admission control: `maxVersionsPerTrigger` caps each micro-batch
    * at N manifest versions. Without it, a stream starting far behind
    * the live table (or at the snapshot) plans its entire backlog as
    * ONE micro-batch — at 100 TB that is an unbounded unit of retry.
    * The version axis is the right granule: commits are the source's
    * append quanta, so N versions ≈ N writer epochs of data, and
    * catch-up progresses checkpoint-by-checkpoint with bounded state.
    * 0 (the default) = unlimited, the plain MicroBatchStream behavior.
    *
    * The option rides the ReadLimit channel as maxRows ("rows" = our
    * versions): MicroBatchExecution passes getDefaultReadLimit back
    * into latestOffset each batch, while Trigger.AvailableNow's
    * wrapper asks with allAvailable() to capture where "available now"
    * ENDS — that call must NOT be capped, or the drain would stop
    * after one rate-limited step instead of reaching the captured end
    * (the wrapper then re-applies the per-batch limit on every step). */
  /** `maxBytesPerTrigger` is the companion byte-denominated cap:
    * version counts are uneven when commit sizes vary (one bulk load ≫
    * a thousand trickle epochs), so the robust admission axis is the
    * actual shard bytes each version added. Accounting comes from the
    * manifest chain — version w's cost is the on-disk size of the
    * shards it introduced (`firstVersion == w`), the same replay
    * [[KvStore.deltaShards]] plans from. At least one version is always
    * admitted (an oversized single commit must still make progress).
    * Both caps together compose via Spark's CompositeReadLimit — the
    * batch stops at whichever cap bites first. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      if (maxVersionsPerTrigger > 0) Some(ReadLimit.maxRows(maxVersionsPerTrigger)) else None,
      if (maxBytesPerTrigger > 0) Some(ReadLimit.maxBytes(maxBytesPerTrigger)) else None
    ).flatten
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** A committed version's added-shard byte total is immutable (its
    * manifest is archived, its shard files never rewritten), so each
    * version's cost is computed once per stream — latestOffset walks
    * the same backlog window every micro-batch of a drain, and without
    * the memo that walk re-planned and re-statted O(backlog) versions
    * per batch ([[KvStore]]'s manifest cache removes the parse cost;
    * this removes the rest). */
  private val versionBytes =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  /** Newest version ≤ `cur` whose cumulative added-shard bytes from
    * `s` stay within `maxBytes` (always ≥ one version of progress). */
  private def capByBytes(s: Long, cur: Long, maxBytes: Long): Long = {
    var w = s + 1
    var admitted = s
    var bytes = 0L
    while (w <= cur) {
      val vb: Long = versionBytes.computeIfAbsent(w, v =>
        KvStore.deltaShards(dir, v - 1, Some(v.toLong))
          .map(sh => new java.io.File(s"$dir/${sh.file}").length()).sum)
      if (admitted > s && bytes + vb > maxBytes) return admitted
      bytes += vb
      admitted = w
      w += 1
    }
    admitted
  }

  private def applyLimit(s: Long, cur: Long, limit: ReadLimit): Long = limit match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      math.min(cur, s + r.maxRows())
    case b: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      capByBytes(s, cur, b.maxBytes())
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(applyLimit(s, cur, _)).min
    case _ => cur // allAvailable (incl. AvailableNow capture)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = headVersion()
    val s0 = start.asInstanceOf[KvOffset].version
    // A rate-limited stream starting from scratch (offset 0) pins its
    // INITIAL SNAPSHOT at the capped end version — but for a long-lived
    // table that version's archived manifest may be beyond the
    // 64-commit retention, which made a brand-new capped consumer of an
    // old table unable to start at all. The capping base is therefore
    // lifted to the retention floor: the first batch becomes the state
    // at the oldest version that still HAS a manifest (one atomic
    // snapshot read either way — only its pin moves forward; the caps
    // then meter the append tail from there exactly as before). Seeded
    // (`sinceVersion`) streams are untouched: their windows plan from
    // the add lineage and their seed is an explicit contract.
    val s = if (s0 == 0L && cur > 0L)
      math.max(s0, KvStore.oldestRetainedVersion(dir) - 1)
    else s0
    KvOffset(applyLimit(s, cur, limit))
  }

  /** `sinceVersion` composes CDC with streaming: the stream's initial
    * offset is the caller's batch checkpoint, so the first micro-batch
    * is the append delta `(sinceVersion, latest]` instead of the full
    * snapshot — a batch backfill + streaming tail hand off exactly-once
    * on the shared manifest-version axis. startVersion 0 (the default)
    * keeps the snapshot-first semantics. A start version AHEAD of the
    * live table is a checkpoint from some other table or a typo; fail
    * loudly instead of silently producing an empty stream forever. */
  override def initialOffset(): Offset = {
    val cur = currentVersion()
    require(startVersion <= cur,
      s"sinceVersion $startVersion is ahead of the table's current manifest " +
        s"version $cur ($dir) — not a commit this table has ever produced")
    KvOffset(startVersion)
  }

  override def deserializeOffset(json: String): Offset = {
    if (json.contains("shardCount")) throw new IllegalStateException(
      "this checkpoint was written by the positional-offset stream (pre-r9); " +
        "restart the query with a fresh checkpoint — version offsets cannot " +
        "be derived from shard positions")
    KvOffset("\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad KvOffset json: $json")))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvOffset].version
    val e = end.asInstanceOf[KvOffset].version
    if (e == 0L || s >= e) Array.empty
    else {
      // initial catch-up = the whole state at `e`; afterwards the pure
      // append delta of (s, e]. Both plan from immutable manifests, so
      // a Spark retry of this batch reads identical shard sets.
      val shards =
        if (s == 0L) KvStore.readMetaAsOf(dir, Some(e)).shards
        else KvStore.deltaShards(dir, s, Some(e))
      // same guard as the batch scan's pinned/incremental reads: a shard
      // this window added may have been compacted away and reclaimed
      // since (a stream restarting from a checkpoint older than the
      // table's retention) — fail the batch at planning with the clear
      // contract error, not a FileNotFoundException mid-task
      KvStore.requireShardFiles(dir, shards, s"streaming micro-batch ($s, $e] of $dir",
        remedy = "the checkpoint predates the table's retention; restart with a fresh checkpoint")
      KvScan.select(shards, filters, declared, rowkeyName, buckets)
        .parts.toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KvPartitionReaderFactory(dir, prunedSchema.json, declared.json,
      rowkeyName, filters, -1, reverse = false, columnar = columnar,
      eventTimeEnc = KvEventTime.encode(eventTime))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
