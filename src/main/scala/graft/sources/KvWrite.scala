package graft.sources

import java.io.File

import graft.kv._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Batch write path — the capability the reference lacks entirely
  * (read-only by design, `/root/reference/README.md:3`; its fixtures are
  * loaded by a raw HBase client, `TestDataWriter.scala:47-68`). Closing
  * that gap lets fixtures flow through Spark itself.
  *
  * Each task sorts its partition's rows by encoded rowkey and emits
  * sorted shard ("region") files; commit messages carry the shard
  * manifests and the driver writes the table manifest atomically. For
  * co-located, pruning-friendly shards, callers
  * `repartitionByRange(rowkey)` first — but overlapping shard ranges
  * remain CORRECT (scan prunes by per-shard min/max and re-clips inside
  * each shard).
  *
  * Scale properties:
  *  - Bounded memory: rows are buffered only up to `chunkBytes`
  *    (option `chunkBytes`, default 256 MiB of encoded cell data); each
  *    full chunk is sorted and streamed out as its own shard file
  *    ("sorted-run emission"), so an arbitrarily large input partition
  *    never holds more than one chunk in memory. The manifest has always
  *    supported many shards per task, so the commit protocol is
  *    untouched; chunk shards of one task may overlap in key range,
  *    which the scan already handles.
  *  - Concurrent-writer safe: shard file names embed a per-writer random
  *    token, so two applications appending to the same table directory
  *    (e.g. the documented batch-writer + streaming-reader split) can
  *    never regenerate each other's names and truncate a committed
  *    shard. Creation additionally refuses to overwrite an existing
  *    file — collisions fail loudly instead of losing data.
  */
class KvWriteBuilder(catalog: KvCatalog, dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      "graft-kv supports only full-table overwrite")
    truncateFirst = true; this
  }

  /** `replaceKeyRanges=lohex:hihex[,...]` + `mode("overwrite")` — a
    * RANGE-SCOPED atomic overwrite with Delta-`replaceWhere` exact
    * semantics on the order-preserving encoded rowkey: one commit
    * atomically deletes every row whose key falls inside the ranges
    * and inserts the written rows. Every written row must itself fall
    * inside the ranges (enforced per row at write time — a stray key
    * fails the TASK loudly instead of silently leaking rows outside
    * the replaced region). Physically: interior shards fully covered
    * by a range drop wholesale (never read), boundary shards get
    * their out-of-range rows carved into carry shards at commit (at
    * most two boundary shards per range, independent of table size),
    * everything else keeps its files. Mirrors the row-level-DML
    * commit discipline: replaced files stay on disk on a restarted
    * vacuum grace clock (pre-replace snapshots keep replaying),
    * replacement rows never resurface as change-feed adds, and the
    * commit stamps the manifest's `lastRewriteVersion` watermark so
    * derived-state consumers (persisted ANN indexes) see the window
    * as a rewrite. Pair with `expectedVersion` to fence concurrent
    * commits between a caller's read and its replace. With no
    * intersecting shard the commit is a plain append of new rows into
    * the range (and stamps nothing). */
  private def replaceRangesOpt: Option[String] =
    Option(info.options().get("replaceKeyRanges")).map { s =>
      // canonicalize early: malformed input fails at planning, and the
      // executors/commit all parse one normalized form
      KeyRanges.serializeBounded(KeyRanges.parseBounded(s))
    }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private def chunkBytes: Long = {
      val cb = info.options().getLong("chunkBytes", KvDataWriter.DefaultChunkBytes)
      require(cb > 0, s"chunkBytes must be positive, got $cb")
      cb
    }

    /** `distributeByRange=true` asks SPARK for the write layout instead
      * of the caller hand-rolling `repartitionByRange` before every
      * save: an ordered distribution on the rowkey makes Spark insert a
      * range-partition + sort, so each task covers a disjoint key range
      * and the emitted shards are range-tight — the layout plan-time
      * pruning wants. Valid because the key ENCODING is order-preserving
      * (BytesCodec), so column order ≡ encoded-shard-range order.
      * Default off: unsorted/overlapping shards stay CORRECT (scans
      * prune by per-shard min/max and re-clip), and appends of
      * pre-partitioned data shouldn't pay a forced shuffle. */
    private def rangeDistribute: Boolean =
      info.options().getBoolean("distributeByRange", false)
    private def rowkeySort =
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(catalog.rowkey),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      if (rangeDistribute)
        org.apache.spark.sql.connector.distributions.Distributions.ordered(
          Array(rowkeySort))
      else
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      if (rangeDistribute) Array(rowkeySort) else Array.empty
    /** `writePartitions=N` pins the distribution's partition count (≙
      * target shard count before chunk rolling); 0/absent lets Spark +
      * AQE choose — which may coalesce a small write to one task.
      * Only honored with `distributeByRange`: Spark REJECTS a partition
      * count on an unspecified distribution at planning, which would
      * turn a previously-working plain write into an error. */
    override def requiredNumPartitions(): Int =
      if (rangeDistribute) info.options().getInt("writePartitions", 0) else 0

    /** `bloomColumns=c1,c2` (opt-in): emit a per-shard bloom sidecar
      * over the named columns' cell encodings — point-predicate shard
      * skipping where zone maps can't prune ([[graft.kv.KvBloom]]).
      * `bloomBits` sizes the filter (default 1 MiBit ≈ 128 KiB/shard). */
    private def bloomColumns: String = info.options().getOrDefault("bloomColumns", "")
    private def bloomBits: Int = info.options().getInt("bloomBits", 1 << 20)

    override def toBatch: BatchWrite = {
      val ranges = replaceRangesOpt
      require(ranges.isEmpty || truncateFirst,
        "replaceKeyRanges requires mode(\"overwrite\") — it IS an overwrite, " +
          "scoped to the given rowkey ranges")
      // `epoch=<key>`: Delta's txnAppId idempotent append on the sink's epoch
      // records — an already-recorded key makes the commit a no-op
      val epoch = Option(info.options().get("epoch"))
      require(epoch.isEmpty || !truncateFirst,
        "epoch is an append option; an overwrite drops the epoch records")
      new KvBatchWrite(catalog, dir, info.schema(),
        truncateFirst && ranges.isEmpty, chunkBytes,
        bloomColumns, bloomBits,
        info.options().getLong("expectedVersion", -1L), ranges, epoch)
    }
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!truncateFirst,
        "graft-kv streaming sink supports append output mode only")
      require(replaceRangesOpt.isEmpty,
        "replaceKeyRanges is a batch overwrite option; the streaming sink is append-only")
      new KvStreamingWrite(catalog, dir, info.schema(), chunkBytes, info.queryId(),
        bloomColumns, bloomBits)
    }
  }
}

case class KvCommit(shards: Seq[KvShardMeta]) extends WriterCommitMessage

class KvBatchWrite(catalog: KvCatalog, dir: String, schema: StructType,
                   truncateFirst: Boolean, chunkBytes: Long,
                   bloomColumns: String = "", bloomBits: Int = 1 << 20,
                   expectedVersion: Long = -1L,
                   replaceRanges: Option[String] = None,
                   epoch: Option[String] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    KvDataWriterFactory(dir, schema.json, catalog.schema.json, catalog.rowkey,
      chunkBytes, bloomColumns, bloomBits, catalog.buckets,
      replaceRanges.getOrElse(""))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newShards = messages.flatMap { case KvCommit(s) => s }.toSeq
    // an append that wrote no rows changes nothing: committing it would
    // only mint a version and archive an identical manifest. A fresh
    // table still commits (its first write creates version 1), as do an
    // epoch key (it must be recorded), a truncate and a range replace
    // (both delete rows)
    if (newShards.isEmpty && epoch.isEmpty && !truncateFirst && replaceRanges.isEmpty &&
        new java.io.File(KvStore.metaPath(dir)).exists()) return
    KvStore.commit(dir) { prev =>
      // optimistic truncate/replace (`expectedVersion` option): a
      // rewrite job that read the table at version V must not clobber
      // commits that landed while it ran — abort and let the caller
      // retry against the new state instead of silently dropping them
      if (expectedVersion >= 0 && prev.version != expectedVersion) {
        abort(messages)
        throw new IllegalStateException(
          s"concurrent modification: table at version ${prev.version}, " +
            s"rewrite expected $expectedVersion — rerun against current state")
      }
      replaceRanges match {
        case Some(ser) => replaceEdit(prev, ser, newShards)
        // lineage for incremental reads: these rows first appear in the
        // version this commit is about to create (prev.version+1).
        // Truncate deletes the superseded shard files, so archiving the
        // pre-truncate manifest would only set up an asOfVersion scan
        // that plans fine and dies mid-task on missing files — it is
        // skipped so the pinned read fails at planning with "version
        // unavailable"
        case None => KvEdit(newShards.map(_.copy(firstVersion = prev.version + 1)),
          remove = if (truncateFirst) prev.shards.map(_.file).toSet else Set.empty,
          deleteRemoved = truncateFirst, rewrite = truncateFirst,
          archive = !truncateFirst, epoch = epoch)
      }
    } match {
      case KvStore.StuckClock => throw KvStore.stuckClock("range replace")
      case _ => ()
    }
  }

  /** Range-scoped overwrite edit — PREDICATE-EXACT (Delta
    * `replaceWhere`) semantics: atomically delete every row whose key
    * falls inside the ranges and insert the written rows (which the
    * task-side check already pinned inside the ranges). Interior
    * shards (fully covered by a range) drop wholesale without being
    * read; BOUNDARY shards — intersecting but not covered — have
    * their out-of-range rows carved into fresh "carry" shards right
    * here, the same driver-side ShardReader/ShardWriter maintenance
    * path the compactor rides (at most two boundary shards per range,
    * independent of table size). Commit discipline mirrors row-level
    * DML: replaced files stay on disk on a restarted vacuum grace
    * clock, replacement shards inherit the replaced inputs' min
    * firstVersion (never resurfacing as change-feed adds; carry shards
    * keep their source's exact firstVersion), and the manifest's
    * rewrite watermark is stamped. Runs under the table lock held by
    * the commit. */
  private def replaceEdit(prev: KvTableMeta, ser: String,
                          newShards: Seq[KvShardMeta]): KvEdit = {
    val ranges = KeyRanges.parseBounded(ser)
    val replaced = prev.shards.filter(s =>
      KeyRanges.intersectsShard(ranges, s.minKey, s.maxKey))
    // interior shards (covered by a range) just drop; boundary ones carve
    val boundary = replaced.filterNot(s =>
      KeyRanges.coversShard(ranges, s.minKey, s.maxKey))
    val carryToken = java.util.UUID.randomUUID().toString.substring(0, 8)
    val carries = new ArrayBuffer[KvShardMeta]()
    try {
      boundary.zipWithIndex.foreach { case (s, i) =>
        carveSurvivors(s, ranges, f"carry-$carryToken-$i%03d.kv")
          .foreach(carries += _)
      }
    } catch {
      case e: Throwable =>
        (newShards ++ carries).foreach(KvStore.deleteShard(dir, _))
        throw e
    }
    // lineage = min over the replaced inputs (a replace reshuffles
    // surviving rows across its outputs, so tighter per-output bounds
    // don't exist); with NOTHING replaced the write is a plain append
    // of new rows into the range — genuine adds at this commit
    val inheritedFirst = replaced.map(_.firstVersion).minOption
      .getOrElse(prev.version + 1)
    KvEdit(carries.toSeq ++ newShards.map(_.copy(firstVersion = inheritedFirst)),
      remove = replaced.map(_.file).toSet, rewrite = replaced.nonEmpty)
  }

  /** Stream one boundary shard, keeping every record OUTSIDE the
    * ranges, into a carry shard ([[KvDataWriter.rewriteShard]]: exact
    * zone maps, CRC-verified input). The bloom sidecar is dropped
    * (pruning loss only); `firstVersion` is the source's exact value —
    * and the carry file is new, so writeMeta stamps
    * `addedVersion = commitV ≠ firstVersion`, keeping carried rows out
    * of every change-feed window, exactly like a compaction output.
    * None = no survivors. */
  private def carveSurvivors(s: KvShardMeta, ranges: Seq[KeyRanges.Range],
                             fileName: String): Option[KvShardMeta] = {
    require(!new File(s"$dir/$fileName").exists(),
      s"range-replace carry $fileName already exists")
    KvDataWriter.rewriteShard(dir, s, fileName, catalog.schema)(
      rec => !KeyRanges.containsKey(ranges, rec.key))._2
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case KvCommit(s) => s }.flatten.foreach(KvStore.deleteShard(dir, _))
}

/** Streaming sink (append mode): each epoch's tasks write shards exactly
  * like batch tasks (same chunked writer, same collision-proof names);
  * the epoch commit appends them to the manifest, which is precisely
  * what [[KvMicroBatchStream]] tails on the read side — a table can be
  * the sink of one query and the source of another.
  *
  * Epoch commits are IDEMPOTENT and ATOMIC: the committed-epoch record
  * ("queryId-epochId" — scoped by query so two streams into one table
  * can never mistake each other's epoch 0) travels INSIDE the same
  * atomic manifest write as the shard append, so no crash point can
  * separate "shards appended" from "epoch recorded". A retried commit
  * for an already-recorded epoch deletes its duplicate shard files and
  * their bloom sidecars instead of double-appending. The whole read-modify-write runs under
  * the table lock. */
class KvStreamingWrite(catalog: KvCatalog, dir: String, schema: StructType,
                       chunkBytes: Long, queryId: String,
                       bloomColumns: String = "", bloomBits: Int = 1 << 20)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    KvStreamingDataWriterFactory(dir, schema.json, catalog.schema.json,
      catalog.rowkey, chunkBytes, bloomColumns, bloomBits, catalog.buckets)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val newShards = messages.flatMap { case KvCommit(s) => s }.toSeq
    KvStore.commit(dir)(prev => KvEdit(
      newShards.map(_.copy(firstVersion = prev.version + 1)),
      epoch = Some(s"$queryId-$epochId"))): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case KvCommit(s) => s }.flatten.foreach(KvStore.deleteShard(dir, _))
}

object KvStreamingWrite {
  val MaxEpochRecords: Int = KvStore.MaxEpochRecords
}

case class KvStreamingDataWriterFactory(dir: String, schemaJson: String,
                                        declaredJson: String, rowkey: String,
                                        chunkBytes: Long, bloomColumns: String = "",
                                        bloomBits: Int = 1 << 20, buckets: Int = 0)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(dir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      DataType.fromJson(declaredJson).asInstanceOf[StructType], rowkey,
      partitionId, taskId, chunkBytes, bloomColumns, bloomBits, buckets)
}

case class KvDataWriterFactory(dir: String, schemaJson: String,
                               declaredJson: String, rowkey: String,
                               chunkBytes: Long, bloomColumns: String = "",
                               bloomBits: Int = 1 << 20, buckets: Int = 0,
                               replaceRanges: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(dir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      DataType.fromJson(declaredJson).asInstanceOf[StructType], rowkey,
      partitionId, taskId, chunkBytes, bloomColumns, bloomBits, buckets,
      replaceRanges)
}

object KvDataWriter {
  /** Default sorted-run size: region-scale shards without holding more
    * than one run of encoded cells per task in memory. */
  val DefaultChunkBytes: Long = 256L << 20

  /** One maintenance rewrite of shard `src` into the fresh file
    * `outName`, keeping the records `keep` accepts — the pushable
    * DELETE's and the range replace's shared loop. Full records are
    * read (no cell filter), so unprojected cells survive byte-for-byte,
    * and the read CRC-verifies the input: a bit-rotted shard throws
    * before any manifest swap. Zone-map stats are RECOMPUTED from the
    * kept records ([[KvZoneMaps.StatsTracker]]): the aggregate-pushdown
    * manifest fast path serves them as exact min/max, so the source's
    * bounds would resurrect removed extremes. Hosts, the bucket tag and
    * `firstVersion` carry over — same storage locality, same key subset
    * (a rewrite never moves a key between buckets), same lineage. A
    * failure deletes the partial output before rethrowing. Returns the
    * number of records dropped and the replacement (None = nothing
    * kept). */
  def rewriteShard(dir: String, src: KvShardMeta, outName: String, declared: StructType)
                  (keep: KvRecord => Boolean): (Long, Option[KvShardMeta]) = {
    val reader = new KvStore.ShardReader(dir, src, verifyCrc = true)
    val w = new KvStore.ShardWriter(dir, outName)
    val tracker = new KvZoneMaps.StatsTracker(declared)
    var removed = 0L
    try {
      while (reader.hasNext) {
        val rec = reader.next()
        if (keep(rec)) { tracker.observe(rec); w.append(rec) }
        else removed += 1
      }
    } catch {
      case e: Throwable =>
        try w.close() catch { case _: Exception => () }
        new File(s"$dir/$outName").delete()
        throw e
    } finally reader.close()
    (removed, w.close().map(_.copy(stats = tracker.result(), hosts = src.hosts,
      bucket = src.bucket, bucketMod = src.bucketMod, firstVersion = src.firstVersion)))
  }
}

/** `schema` = incoming row layout; `declared` = catalog schema carrying
  * the (cf, qualifier) metadata. Columns are matched BY NAME so the
  * stored cells always land under the catalog's declared cf:qualifier.
  *
  * `buckets > 0` = the table is hash-bucketed on the rowkey
  * ([[graft.kv.KvBuckets]]): rows split into per-bucket runs so every
  * emitted shard holds EXACTLY ONE bucket's keys and is tagged with it
  * in the manifest — the invariant the scan's storage-partitioned-join
  * reporting rests on. The `chunkBytes` memory bound stays GLOBAL
  * across buckets (one oversized run still flushes everything), so a
  * bucketed writer holds no more encoded data than an unbucketed one;
  * it just cuts it into up to `buckets` smaller sorted shards per
  * flush (compaction later merges per bucket). */
class KvDataWriter(dir: String, schema: StructType, declared: StructType,
                   rowkey: String, partitionId: Int, taskId: Long,
                   chunkBytes: Long = KvDataWriter.DefaultChunkBytes,
                   bloomColumns: String = "", bloomBits: Int = 1 << 20,
                   buckets: Int = 0, replaceRanges: String = "")
    extends DataWriter[InternalRow] {

  private val rowkeyIdx = schema.fieldIndex(rowkey)
  private val keyType = schema.fields(rowkeyIdx).dataType
  // range-scoped overwrite: every written key must fall inside the
  // declared ranges — a violation fails the TASK (commit never runs),
  // so a replace can never leak rows outside the region it swaps
  private val replaceRangeSet: Seq[KeyRanges.Range] =
    if (replaceRanges.isEmpty) Nil else KeyRanges.parseBounded(replaceRanges)
  // per-column layout resolved ONCE (this is the innermost write loop):
  // (incoming index, cf, qualifier, dataType) for every non-rowkey field
  private val cellCols: Array[(Int, String, String, org.apache.spark.sql.types.DataType)] = {
    val declaredByName = declared.fields.map(f => f.name -> f).toMap
    schema.fields.zipWithIndex.collect {
      case (f, i) if i != rowkeyIdx =>
        val decl = declaredByName.getOrElse(f.name, f)
        val cf = if (decl.metadata.contains("columnFamily"))
          decl.metadata.getString("columnFamily") else "columns"
        val qual = if (decl.metadata.contains("column"))
          decl.metadata.getString("column") else f.name
        (i, cf, qual, f.dataType)
    }
  }

  // Names are unique ACROSS JVMs: (partitionId, taskId) repeat when a
  // second application writes to the same dir, so a random per-writer
  // token is load-bearing, not cosmetic.
  private val writerToken = java.util.UUID.randomUUID().toString.substring(0, 8)
  private def chunkFileName(seq: Int): String =
    f"shard-p$partitionId%05d-t$taskId-$writerToken-c$seq.kv"

  private var chunkSeq = 0
  private var bufferedBytes = 0L // GLOBAL across buckets — the memory bound
  private val emittedFiles = new ArrayBuffer[String]()
  private val emittedShards = new ArrayBuffer[KvShardMeta]()

  // ---- bloom column resolution (shared by all accumulators) ----
  // tracked by the same "cf:qual" keys as zone maps, over the raw CELL
  // encoding of non-null values; see [[graft.kv.KvBloom]] for why
  // floats/decimals never track
  private val bloomKeyOf: Array[String] = {
    val wanted = bloomColumns.split(",").map(_.trim).filter(_.nonEmpty).toSet
    cellCols.map { case (i, cf, qual, dt) =>
      if (wanted.contains(schema.fields(i).name) && graft.kv.KvBloom.trackable(dt))
        s"$cf:$qual"
      else null
    }
  }
  private val bloomKeys: Seq[String] = bloomKeyOf.filter(_ != null).toSeq
  private val statsCols: Array[Int] =
    cellCols.indices.filter(c => KvZoneMaps.supported(cellCols(c)._4)).toArray

  /** One in-flight sorted run: records + zone-map bounds + bloom bits.
    * Unbucketed writers own exactly one (`bucketId = -1`); bucketed
    * writers one per bucket id seen.
    *
    * Zone maps are tracked in the ORDER-PRESERVING key encoding so
    * bounds merge under plain byte comparison at compaction time and
    * decode to typed bounds at scan time (KvShardMeta.stats scaladoc).
    * Oversized values poison the column for the chunk (giant string
    * bounds don't belong in a manifest); unsupported types are never
    * tracked. */
  private final class ChunkAcc(val bucketId: Int) {
    val buffer = new ArrayBuffer[KvRecord]()
    val statsMin = new Array[Array[Byte]](cellCols.length)
    val statsMax = new Array[Array[Byte]](cellCols.length)
    val statsPoisoned = new Array[Boolean](cellCols.length)
    val bloomBuilder: graft.kv.KvBloom.Builder =
      if (bloomKeys.isEmpty) null
      else new graft.kv.KvBloom.Builder(bloomBits, 4, bloomKeys)

    def trackStats(c: Int, dt: org.apache.spark.sql.types.DataType, v: Any): Unit = {
      if (!statsPoisoned(c)) {
        val enc = BytesCodec.encodeKey(dt, v)
        if (enc.length > KvZoneMaps.MaxBoundBytes) {
          statsPoisoned(c) = true
          statsMin(c) = null; statsMax(c) = null
        } else {
          if (statsMin(c) == null || BytesCodec.compareKeys(enc, statsMin(c)) < 0)
            statsMin(c) = enc
          if (statsMax(c) == null || BytesCodec.compareKeys(enc, statsMax(c)) > 0)
            statsMax(c) = enc
        }
      }
    }

    def reset(): Unit = {
      if (bloomBuilder != null) bloomBuilder.reset()
      buffer.clear()
      java.util.Arrays.fill(statsMin.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(statsMax.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(statsPoisoned, false)
    }
  }

  private val unbucketedAcc = if (buckets > 0) null else new ChunkAcc(-1)
  private val bucketAccs =
    if (buckets > 0) new Array[ChunkAcc](buckets) else null
  private def accFor(encodedKey: Array[Byte]): ChunkAcc =
    if (buckets <= 0) unbucketedAcc
    else {
      val b = graft.kv.KvBuckets.ofKey(encodedKey, buckets)
      if (bucketAccs(b) == null) bucketAccs(b) = new ChunkAcc(b)
      bucketAccs(b)
    }
  private def allAccs: Iterator[ChunkAcc] =
    if (buckets <= 0) Iterator(unbucketedAcc)
    else bucketAccs.iterator.filter(_ != null)

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(rowkeyIdx), s"null rowkey '${rowkey}' at write")
    val key = BytesCodec.encodeKey(keyType, row.get(rowkeyIdx, keyType))
    if (replaceRangeSet.nonEmpty && !KeyRanges.containsKey(replaceRangeSet, key))
      throw new IllegalArgumentException(
        s"replaceKeyRanges violation: written rowkey ${KvStore.toHex(key)} " +
          "falls outside every declared replace range")
    val acc = accFor(key)
    var recBytes = key.length.toLong + 8
    val cellBuf = new ArrayBuffer[KvCell](cellCols.length)
    var c = 0
    while (c < cellCols.length) {
      val (i, cf, qual, dt) = cellCols(c)
      if (!row.isNullAt(i)) {
        val v = BytesCodec.encode(dt, row.get(i, dt))
        recBytes += cf.length + qual.length + v.length + 8
        if (acc.bloomBuilder != null && bloomKeyOf(c) != null)
          acc.bloomBuilder.add(bloomKeyOf(c), v)
        cellBuf += KvCell(cf, qual, v)
      }
      c += 1
    }
    val cells = cellBuf.toIndexedSeq
    var sc = 0
    while (sc < statsCols.length) {
      val c = statsCols(sc)
      val (i, _, _, dt) = cellCols(c)
      if (!row.isNullAt(i)) acc.trackStats(c, dt, row.get(i, dt))
      sc += 1
    }
    acc.buffer += KvRecord(key, cells)
    bufferedBytes += recBytes
    // the bound is on TOTAL buffered bytes: flushing every accumulator
    // at once keeps bucketed memory identical to unbucketed memory
    if (bufferedBytes >= chunkBytes) flushAll()
  }

  /** Sort one accumulator's run and stream it out as one shard file
    * (tagged with the accumulator's bucket, if any). */
  private def flushAcc(acc: ChunkAcc): Unit = {
    if (acc.buffer.nonEmpty) {
      val name = chunkFileName(chunkSeq)
      chunkSeq += 1
      require(!new File(s"$dir/$name").exists(),
        s"shard file $name already exists — refusing to truncate a committed shard")
      emittedFiles += name
      val sorted = acc.buffer.sortWith((a, b) => BytesCodec.compareKeys(a.key, b.key) < 0)
      val w = new KvStore.ShardWriter(dir, name)
      sorted.foreach(w.append)
      val stats = statsCols.iterator.filter(c =>
        !acc.statsPoisoned(c) && acc.statsMin(c) != null).map { c =>
        val (_, cf, qual, _) = cellCols(c)
        s"$cf:$qual" -> (KvStore.toHex(acc.statsMin(c)), KvStore.toHex(acc.statsMax(c)))
      }.toMap
      w.close().foreach { m =>
        val withBloom =
          if (acc.bloomBuilder != null && acc.bloomBuilder.nonEmpty) {
            val sc2 = graft.kv.KvBloom.sidecarName(name)
            graft.kv.KvBloom.write(s"$dir/$sc2", acc.bloomBuilder.result())
            emittedFiles += sc2
            m.copy(bloom = sc2)
          } else m
        emittedShards += withBloom.copy(stats = stats, bucket = acc.bucketId,
          bucketMod = if (acc.bucketId >= 0) buckets else 0)
      }
      acc.reset()
    }
  }

  private def flushAll(): Unit = {
    allAccs.foreach(flushAcc)
    bufferedBytes = 0L
  }

  override def commit(): WriterCommitMessage = {
    flushAll()
    KvCommit(emittedShards.toSeq)
  }

  override def abort(): Unit =
    emittedFiles.foreach(f => new File(s"$dir/$f").delete())
  override def close(): Unit = ()
}
