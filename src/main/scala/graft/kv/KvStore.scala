package graft.kv

import java.io._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** HBase-shaped storage: a table = a directory of sorted shard files
  * ("regions") + a JSON manifest with per-shard key ranges.
  *
  * Shard file layout (binary, little ceremony, streaming-friendly):
  * {{{
  *   magic "GKV1"
  *   repeat:
  *     int32 keyLen, key bytes            (rowkey, unsigned-lex sorted)
  *     int32 nCells
  *     repeat nCells: int16 cfLen, cf, int16 qualLen, qual, int32 valLen, val
  * }}}
  *
  * Each manifest entry also records the shard file's CRC32C, giving the
  * maintenance path (compaction, [[KvStore.verifyTable]] fsck) bit-rot
  * detection without touching the scan hot path.
  *
  * The manifest mirrors what the reference derives live from the HBase
  * Admin API — region (startKey, endKey) + locality host
  * (`/root/reference/src/main/scala/com/dm/hbase/spark3/datasource/HbaseScan.scala:27-45`).
  * Here shard min/max keys bound each file, which is what enables
  * rowkey-range partition PRUNING at plan time (the reference's open
  * TODO, `HbasePartitionReader.scala:147`).
  *
  * Local files here; at cluster scale the same layout sits on a shared
  * filesystem (paths in the manifest are relative to the table dir).
  */
final case class KvRecord(key: Array[Byte], cells: Seq[KvCell])
final case class KvCell(cf: String, qualifier: String, value: Array[Byte])

/** `hosts` = optional locality hints (nodes holding this shard's bytes,
  * ≙ the reference's per-region preferred host) surfaced to Spark via
  * `InputPartition.preferredLocations`; empty on a shared filesystem.
  *
  * `stats` = optional per-column zone maps: "cf:qualifier" →
  * (minHex, maxHex) of the column's non-null cell values IN THE
  * ORDER-PRESERVING KEY ENCODING ([[BytesCodec.encodeKey]] — sign-flip
  * integrals, IEEE-total-order floats), NOT the raw cell encoding whose
  * byte order misorders negative numerics. That choice makes the zone
  * maps mergeable by plain byte comparison (compaction needs no schema)
  * and decodable to typed bounds at scan time (the scan has the
  * catalog). A column absent from the map ⇒ unknown ⇒ never pruned. */
/** `firstVersion` = the manifest version at which this shard's ROWS
  * first entered the table (not the file: maintenance rewrites carry
  * the MIN of their inputs' firstVersion forward, so a compacted or
  * DELETE-surviving row never re-appears as "new"). 0 in pre-feature
  * manifests ≡ "at or before the beginning". This is the planning key
  * for incremental reads (`option("sinceVersion", v)` plans only
  * shards with firstVersion > v). */
/** `bucketMod` = the bucket-count MODULUS the writer hashed with when it
  * tagged `bucket` (0 in pre-feature manifests ≡ unknown). The tag alone
  * is not self-describing: after a catalog edit raises `buckets` 8→16,
  * every old tag still passes a `0 <= b < 16` validity gate, so a point
  * lookup pruning by `hash(key) mod 16` would silently drop shards that
  * hold the key under mod 8. Every consumer of the tag (point-lookup
  * bucket pruning, storage-partitioned-join reporting, the streaming
  * per-shard prune) therefore requires `bucketMod == catalog.buckets`
  * and otherwise falls back to range pruning — a stale or absent
  * modulus degrades performance, never results. */
/** `addedVersion` (r14) = the manifest commit that CREATED this shard
  * file (stamped by [[KvStore.writeMeta]]; 0 in pre-field manifests).
  * Distinct from `firstVersion`: a compaction/DML output INHERITS its
  * inputs' min firstVersion but is created at a later commit, so
  * `addedVersion == firstVersion` identifies a GENUINE data add — the
  * predicate the manifest-resident add-lineage (change-feed planning
  * without archived manifests) filters on. */
final case class KvShardMeta(file: String, rows: Long, minKeyHex: String, maxKeyHex: String,
                             hosts: Seq[String] = Nil,
                             stats: Map[String, (String, String)] = Map.empty,
                             crc32cHex: String = "",
                             bloom: String = "",
                             bucket: Int = -1,
                             firstVersion: Long = 0,
                             bucketMod: Int = 0,
                             addedVersion: Long = 0) {
  def minKey: Array[Byte] = KvStore.fromHex(minKeyHex)
  def maxKey: Array[Byte] = KvStore.fromHex(maxKeyHex)
}
/** `committedEpochs` records epoch keys (streaming "queryId-epochId",
  * batch appends' `epoch` option) INSIDE the atomic manifest write, so
  * epoch idempotence cannot be split from the shard append by a crash
  * between two files.
  *
  * `version` increments on every manifest commit; the superseded
  * manifest is archived as `_kvmeta.v{N}.json`, giving SNAPSHOT READS
  * (`option("asOfVersion", N)`) over any state still within the vacuum
  * grace period — retain-mode compaction keeps superseded shard files
  * on disk for exactly that window. */
/** `committedAtMs` stamps when this manifest version committed (set by
  * [[KvStore.writeMeta]], 0 in pre-stamp manifests) — the lookup key for
  * SQL `TIMESTAMP AS OF` time travel: the archived manifest chain maps a
  * wall-clock instant to the newest version committed at or before it. */
/** `retiredAdds` / `addsSince` (r14) — ADD LINEAGE IN THE LIVE MANIFEST,
  * so change-feed planning ([[KvStore.deltaShards]]) does not depend on
  * the bounded archived-manifest chain. Before this, a streaming
  * consumer more than [[KvStore.MaxArchivedManifests]] (64) commits
  * behind could never catch up: replaying its window needed archived
  * manifests that commit-count retention had already dropped — a hard
  * ceiling on backlog depth that a 100 TB table (thousands of commits)
  * would hit routinely. Now every commit carries forward the shard
  * entries that maintenance has REMOVED from the live set
  * (`retiredAdds`, pruned to the [[KvStore.MaxAddLineage]] newest
  * versions), and `addsSince` marks the oldest version whose adds are
  * fully represented in `shards ++ retiredAdds`: any window starting at
  * or after it plans from the ONE manifest at hand. Older windows fall
  * back to the archived chain (and fail with the same clear
  * "unavailable" error as before when that is gone). -1 = unknown
  * lineage (pre-field manifests) — always chain-replay. Maintained
  * entirely inside [[KvStore.writeMeta]] via a live-manifest diff;
  * committers do not (and must not) set these fields themselves. */
/** `lastRewriteVersion` (r15) = the newest commit that REPLACED live
  * rows in place (row-level DELETE/UPDATE/MERGE, `replaceKeyRanges`,
  * truncate-overwrite) — 0 if none known (pre-field manifests included).
  * Maintained by [[KvStore.writeMeta]] from the committer's
  * `rewriteCommit` flag; carried forward otherwise. Load-bearing for
  * derived-state freshness (e.g. [[graft.queries.IvfKvStore]]): the add
  * lineage alone CANNOT distinguish a DML rewrite from retain-mode
  * compaction — both retire the replaced genuine adds into
  * `retiredAdds` (the change-feed planner needs them there to agree
  * with the archived-chain replay) — but only the DML changed logical
  * content. A consumer that indexed the table at v0 must treat
  * `lastRewriteVersion > v0` as "my snapshot's rows may have changed",
  * no matter how the file sets shake out. */
final case class KvTableMeta(shards: Seq[KvShardMeta],
                             committedEpochs: Seq[String] = Nil,
                             version: Long = 0,
                             committedAtMs: Long = 0,
                             retiredAdds: Seq[KvShardMeta] = Nil,
                             addsSince: Long = -1,
                             lastRewriteVersion: Long = 0)

/** What one [[KvStore.commit]] changes, computed by the committer from
  * the live manifest the commit read under the table lock.
  *  - `add`: new shards, appended at the end, `firstVersion` already
  *    stamped by the committer.
  *  - `remove`: live shard files this commit takes out; one that is no
  *    longer live makes the commit a `Conflict`.
  *  - `inPlace`: removed files whose replacements take the removed
  *    file's manifest position (DELETE's per-shard rewrite).
  *  - `deleteRemoved`: delete removed files (and bloom sidecars) after
  *    the commit; otherwise their vacuum grace clock restarts BEFORE it,
  *    so pre-commit snapshots keep replaying until vacuum.
  *  - `rewrite`: the commit replaced live rows in place and stamps
  *    `lastRewriteVersion`.
  *  - `archive = false` (truncate only): neither the superseded manifest
  *    nor its epoch records survive, see [[KvStore.writeMeta]].
  *  - `epoch`: a key recorded in the same write; an already-recorded
  *    one makes the commit a `DuplicateEpoch`. The streaming sink
  *    records "queryId-epochId"; a batch append records its `epoch`
  *    write option (IVF stream maintenance tags its append
  *    `ivf-maint@<assignedVersion>`). */
final case class KvEdit(add: Seq[KvShardMeta] = Nil,
                        remove: Set[String] = Set.empty,
                        inPlace: Map[String, Seq[KvShardMeta]] = Map.empty,
                        deleteRemoved: Boolean = false,
                        rewrite: Boolean = false,
                        archive: Boolean = true,
                        epoch: Option[String] = None)

object KvStore {
  /** Bump when the shard-file or manifest layout changes — cache dirs
    * embed it so stale cross-round caches are never misread. */
  val FormatVersion = 1

  /** Canonical location for format-versioned derived KV tables. */
  def cacheDir(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-kv-cache/v$FormatVersion-$name"

  /** Shared empty cell list (records outside a clipped range, or whose
    * cells were all parse-pruned, carry this instead of a fresh Seq). */
  val NoCells: Seq[KvCell] = Vector.empty
  private val Magic = "GKV1".getBytes(StandardCharsets.US_ASCII)
  private val mapper = new ObjectMapper()

  def toHex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def fromHex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def metaPath(tableDir: String): String = s"$tableDir/_kvmeta.json"

  /** Planning-time retention guard shared by pinned/incremental batch
    * reads and streaming micro-batches: a historical window may plan
    * shard files that maintenance has since replaced and reclaimed —
    * verify existence here so the caller fails with the clear contract
    * error (`window` names the read; `remedy` the fix) instead of a raw
    * FileNotFoundException inside a task. */
  def requireShardFiles(tableDir: String, shards: Seq[KvShardMeta],
                        window: String, remedy: String = ""): Unit = {
    val gone = shards.filterNot(s => new File(s"$tableDir/${s.file}").exists())
    if (gone.nonEmpty) throw new IllegalArgumentException(
      s"$window is unavailable: ${gone.length} of its shard files " +
        s"(e.g. ${gone.head.file}) were truncated or vacuumed" +
        (if (remedy.nonEmpty) s" — $remedy" else ""))
  }

  // ---- cross-process manifest mutation lock ----

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serializes manifest READ-MODIFY-WRITE sections (batch commit,
    * streaming epoch commit, compaction swap) across writers: an OS file
    * lock on `_kvlock` handles other JVMs, an interned per-path monitor
    * handles threads of THIS JVM (FileLock throws on same-JVM overlap
    * rather than blocking). On filesystems without lock support (object
    * stores) this degrades to the JVM-local monitor — there a single
    * maintainer per table is the deployment contract, as in the
    * reference's store. A section nested on the thread that already
    * holds the lock runs inside the outer one, so a fixture can stage
    * several commits under its table's lock. */
  def withTableLock[T](tableDir: String)(f: => T): T = {
    Files.createDirectories(Paths.get(tableDir))
    val canon = new File(tableDir).getCanonicalPath
    val monitor = jvmLocks.computeIfAbsent(canon, _ => new Object)
    if (Thread.holdsLock(monitor)) f
    else monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(s"$tableDir/_kvlock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = try ch.lock() catch { case _: java.io.IOException => null }
        try f
        finally if (lock != null) lock.release()
      } finally ch.close()
    }
  }

  def readMeta(tableDir: String): KvTableMeta =
    readMetaFile(new File(metaPath(tableDir)))

  /** [[readMeta]], or the empty version-0 manifest of a table never
    * committed to. */
  def readMetaOrEmpty(tableDir: String): KvTableMeta =
    if (new File(metaPath(tableDir)).exists()) readMeta(tableDir) else KvTableMeta(Nil)

  /** Manifest as of a past commit. `None` → current. A missing archived
    * version means it either never existed or was vacuumed — time travel
    * is bounded by the same grace period that retains superseded shard
    * files. */
  def readMetaAsOf(tableDir: String, asOfVersion: Option[Long]): KvTableMeta =
    asOfVersion match {
      case None => readMeta(tableDir)
      case Some(v) =>
        val current = readMeta(tableDir)
        if (v == current.version) current
        else {
          val f = new File(s"$tableDir/_kvmeta.v$v.json")
          def unavailable() = throw new IllegalArgumentException(
            s"table version $v is unavailable (current ${current.version}): " +
              "it never existed or its manifest was vacuumed")
          if (!f.exists()) unavailable()
          // the exists() check runs outside any lock: a concurrent
          // vacuum past the grace period can delete the archive between
          // the check and the parse — surface that as the same clear
          // "unavailable" error, not a raw FileNotFoundException
          try readMetaFile(f)
          catch {
            case _: java.io.FileNotFoundException => unavailable()
            case _: java.nio.file.NoSuchFileException => unavailable()
          }
        }
    }

  /** Parse one (possibly archived) manifest file — the `history`
    * procedure's view into the retained version chain. */
  def readMetaFileForHistory(file: File): KvTableMeta = readMetaFile(file)

  // ---- parsed-manifest cache ----
  //
  // Streaming admission control replays the manifest CHAIN: capByBytes
  // walks one deltaShards window per candidate version per latestOffset
  // call, and latestOffset fires per micro-batch — without a cache an
  // AvailableNow drain parses O(versions²) manifest files (measured as
  // q113's +0.24 s finalization cost in r13). Archived manifests
  // (`_kvmeta.vN.json`) are immutable once written, and the live
  // manifest only changes via [[writeMeta]]'s atomic move, so a parse
  // memo validated by (mtime, size) is sound:
  //  - every read STATs the path first — a vacuumed file is never
  //    served from cache (the stat fails exactly like the parse would);
  //  - same-JVM write-after-read is exact regardless of filesystem
  //    timestamp granularity because writeMeta invalidates its key;
  //  - a cross-JVM writer is visible through the moved file's fresh
  //    (mtime, size), the same freshness contract parquet/Delta readers
  //    rely on.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (java.nio.file.attribute.FileTime, Long, KvTableMeta)]()
  /** Far above any live table count in one JVM; a runaway test loop
    * creating thousands of temp tables just clears and restarts. */
  private val ManifestCacheMax = 4096

  private def readMetaFile(file: File): KvTableMeta = {
    val key = file.getAbsolutePath
    val attrs =
      try Files.readAttributes(file.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => null }
    if (attrs != null) {
      val hit = manifestCache.get(key)
      if (hit != null && hit._1 == attrs.lastModifiedTime && hit._2 == attrs.size)
        return hit._3
    }
    val meta = parseMetaFile(file)
    if (attrs != null) {
      if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
      manifestCache.put(key, (attrs.lastModifiedTime, attrs.size, meta))
    }
    meta
  }

  private def parseShardNode(s: com.fasterxml.jackson.databind.JsonNode): KvShardMeta = {
    val hosts = s.path("hosts").elements().asScala.map(_.asText()).toSeq
    val stats = s.path("stats").fields().asScala.map { e =>
      e.getKey -> (e.getValue.path("min").asText(), e.getValue.path("max").asText())
    }.toMap
    KvShardMeta(s.path("file").asText(), s.path("rows").asLong(),
      s.path("minKeyHex").asText(), s.path("maxKeyHex").asText(), hosts, stats,
      s.path("crc32c").asText(""), s.path("bloom").asText(""),
      s.path("bucket").asInt(-1), s.path("firstVersion").asLong(0),
      s.path("bucketMod").asInt(0), s.path("addedVersion").asLong(0))
  }

  private def parseMetaFile(file: File): KvTableMeta = {
    val root = mapper.readTree(file)
    val shards = root.path("shards").elements().asScala.map(parseShardNode).toSeq
    val retired = root.path("retiredAdds").elements().asScala.map(parseShardNode).toSeq
    val epochs = root.path("committedEpochs").elements().asScala.map(_.asText()).toSeq
    KvTableMeta(shards, epochs, root.path("version").asLong(0),
      root.path("committedAtMs").asLong(0), retired,
      root.path("addsSince").asLong(-1),
      root.path("lastRewriteVersion").asLong(0))
  }

  /** Append-delta shard set for the window `(since, asOf-or-current]` —
    * the planning core of incremental (`sinceVersion`) reads. Version
    * W's data adds are exactly the shards CREATED at W whose rows first
    * appeared at W (`addedVersion == firstVersion == W`) — which
    * excludes every maintenance output (compaction / DML rewrites
    * inherit their inputs' min firstVersion but carry their own later
    * addedVersion) — so a row appended once is served exactly once,
    * even if a later compaction merged its shard with older data (a
    * state-diff would either lose it or re-serve the old rows around
    * it).
    *
    * Planning source (r14): when the end manifest's add lineage covers
    * the window (`since >= addsSince` — true for any window within the
    * last [[MaxAddLineage]] commits on lineage-tracked tables), the
    * delta is read from that ONE manifest: live shards plus
    * `retiredAdds` (genuine adds that maintenance later removed from
    * the live set), filtered to the window. No archived manifests —
    * which removes the old hard ceiling where a consumer more than
    * [[MaxArchivedManifests]] (64) commits behind could never catch up.
    * Older windows (or pre-lineage manifests) fall back to the
    * commit-by-commit archived-chain replay, failing with the clear
    * "unavailable" error when history is gone. Availability of the
    * shard FILES stays bounded by the vacuum grace clock either way; a
    * vacuumed window surfaces the clean planning error via
    * [[requireShardFiles]]. */
  def deltaShards(tableDir: String, since: Long, asOf: Option[Long]): Seq[KvShardMeta] = {
    // The lineage is consulted on the LIVE manifest even for a
    // historical `asOf`: a genuine add with firstVersion <= asOf
    // existed at asOf, and the lineage keeps every genuine add newer
    // than addsSince, so live(+retired) and the asOf-manifest chain
    // enumerate IDENTICAL shard sets for a covered window. This
    // matters beyond speed — a capped catch-up asks for per-version
    // windows (w-1, w] whose own archived manifests are long dropped;
    // resolving them against manifest(w) would reintroduce the
    // 64-commit ceiling through the back door.
    val cur = readMeta(tableDir)
    val endV = asOf.getOrElse(cur.version)
    if (cur.addsSince >= 0 && since >= cur.addsSince && endV <= cur.version) {
      (cur.shards ++ cur.retiredAdds).iterator
        .filter(s => s.firstVersion > since && s.firstVersion <= endV &&
          s.addedVersion == s.firstVersion)
        .toSeq.distinctBy(_.file).sortBy(s => (s.firstVersion, s.file))
    } else {
      val end = readMetaAsOf(tableDir, asOf)
      val out = scala.collection.mutable.LinkedHashMap[String, KvShardMeta]()
      var w = since + 1
      while (w <= end.version) {
        val m = if (w == end.version) end else readMetaAsOf(tableDir, Some(w))
        m.shards.iterator.filter(_.firstVersion == w).foreach(s => out.put(s.file, s))
        w += 1
      }
      out.values.toSeq
    }
  }

  /** Oldest version whose manifest is still on disk (the live one when
    * no archives remain) — the floor below which snapshot reads cannot
    * be pinned. Archives are dropped oldest-first by the commit-count
    * retention and the vacuum grace clock, so the minimum existing
    * archive is the practical floor; a vacuum-punched hole above it
    * surfaces as the usual clean "unavailable" planning error. */
  def oldestRetainedVersion(tableDir: String): Long = {
    val archived = Option(new File(tableDir).listFiles()).toSeq.flatten
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("_kvmeta.v") && n.endsWith(".json"))
          n.stripPrefix("_kvmeta.v").stripSuffix(".json").toLongOption
        else None
      }
    if (archived.isEmpty) readMeta(tableDir).version else archived.min
  }

  /** SQL `TIMESTAMP AS OF` resolution: the newest manifest version whose
    * commit stamp is at or before `tsMillis`, searched over the live
    * manifest plus the archived `_kvmeta.v*.json` chain. Time travel is
    * bounded by the same windows as version travel — [[MaxArchivedManifests]]
    * commits of history and the vacuum grace period on superseded shard
    * files. Pre-stamp manifests (committedAtMs = 0) match any timestamp,
    * which errs toward availability for tables written by older builds. */
  def versionAtTimestamp(tableDir: String, tsMillis: Long): Long = {
    val retained = readMeta(tableDir) +:
      Option(new File(tableDir).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("_kvmeta.v") && f.getName.endsWith(".json"))
        .flatMap(f => try Some(readMetaFile(f)) catch { case _: Exception => None })
    val candidates = retained.filter(_.committedAtMs <= tsMillis)
    if (candidates.isEmpty) throw new IllegalArgumentException(
      s"no committed version of $tableDir at or before timestamp $tsMillis " +
        s"(earliest retained commit: ${retained.map(_.committedAtMs).min})")
    candidates.maxBy(_.version).version
  }

  /** Upper bound on archived `_kvmeta.v*.json` files: each commit that
    * pushes history past this deletes the oldest archive, so a
    * long-lived streaming sink (one commit per epoch, forever) cannot
    * leak manifest files; vacuum additionally expires archives on the
    * grace clock. 64 commits of snapshot history is far beyond any
    * in-flight-scan or debugging window. */
  val MaxArchivedManifests = 64

  /** Depth of the manifest-resident add lineage ([[KvTableMeta.retiredAdds]]
    * / `addsSince`): change-feed windows starting within the last this-many
    * commits plan from the live manifest alone. Bounds the carried
    * retired-entry list (only entries maintenance removed AND whose
    * version is still in window — a pure append table carries none), so
    * a long-lived table's manifest cannot grow without bound. 4× the
    * archived-manifest depth: catch-up tolerance is the axis 100 TB
    * ingest actually stresses — a consumer a weekend behind is hundreds
    * of commits behind — while time travel stays a debugging window. */
  val MaxAddLineage = 256

  /** Bounded streaming epoch-record tail (FIFO across all writing
    * queries): a restart can only re-attempt epochs at/after its
    * checkpointed offset, which by then is never hundreds of commits
    * behind — while an unbounded list would grow the manifest forever on
    * a long-lived stream. */
  val MaxEpochRecords = 256

  sealed trait CommitResult
  case object Committed extends CommitResult
  /** A shard the edit removes is no longer live: concurrent maintenance
    * swapped it first. */
  case object Conflict extends CommitResult
  case object DuplicateEpoch extends CommitResult
  /** The vacuum grace clock of a removed file could not be restarted. */
  case object StuckClock extends CommitResult

  /** The error a committer raises on [[StuckClock]]. */
  def stuckClock(what: String): IllegalStateException = new IllegalStateException(
    s"cannot restart the vacuum grace clock on replaced shards; $what aborted")

  /** Delete a shard file and its bloom sidecar. */
  def deleteShard(tableDir: String, s: KvShardMeta): Unit = {
    new File(s"$tableDir/${s.file}").delete()
    if (s.bloom.nonEmpty) new File(s"$tableDir/${s.bloom}").delete()
  }

  /** The one manifest commit of every table write, rewrite and
    * compaction. Under the table lock it reads the live manifest (or the
    * empty one), asks `edit` what to change, checks that every removed
    * file is still live and the epoch is new, restarts the grace clock on
    * retained removed files, writes version+1 through [[writeMeta]] and
    * then deletes the removed files if the edit says so. Every outcome
    * but [[Committed]] deletes the edit's new files: they never became
    * live. The caller owns the policy for the other outcomes (retry,
    * throw, return 0, ignore). */
  def commit(tableDir: String)(edit: KvTableMeta => KvEdit): CommitResult =
    withTableLock(tableDir) {
      val prev = readMetaOrEmpty(tableDir)
      val e = edit(prev)
      val gone = e.remove ++ e.inPlace.keySet
      val live = prev.shards.map(_.file).toSet
      val removed = prev.shards.filter(s => gone(s.file))
      val now = System.currentTimeMillis()
      val result =
        if (!gone.forall(live)) Conflict
        else if (e.epoch.exists(prev.committedEpochs.contains)) DuplicateEpoch
        else if (!e.deleteRemoved &&
          !removed.forall(s => new File(s"$tableDir/${s.file}").setLastModified(now)))
          StuckClock
        else Committed
      if (result != Committed)
        (e.add ++ e.inPlace.values.flatten).foreach(deleteShard(tableDir, _))
      else {
        val shards = prev.shards.flatMap(s =>
          if (gone(s.file)) e.inPlace.getOrElse(s.file, Nil) else Seq(s)) ++ e.add
        val epochs =
          if (!e.archive) Nil
          else e.epoch.fold(prev.committedEpochs)(k =>
            (prev.committedEpochs :+ k).takeRight(MaxEpochRecords))
        writeMeta(tableDir, KvTableMeta(shards, epochs, prev.version),
          archiveSuperseded = e.archive, rewriteCommit = e.rewrite)
        if (e.deleteRemoved) removed.foreach(deleteShard(tableDir, _))
      }
      result
    }

  /** Atomic manifest write (temp + move) — the commit point of every
    * batch / streaming-epoch / compaction-swap commit. ALL callers are
    * read-modify-write sections under [[withTableLock]] (in the engine
    * the one caller is [[commit]]), and
    * `meta.version` MUST be the version of the manifest state the
    * caller read under that lock (0 for a fresh table): the superseded
    * file is archived as `_kvmeta.v{meta.version}.json` and version+1
    * commits — no second parse of the live manifest.
    *
    * `archiveSuperseded = false` skips the archive copy (the version
    * still bumps). The one caller is truncate-mode batch commit: it
    * deletes the superseded shard files immediately, so an archived
    * pre-truncate manifest would plan an `asOfVersion` scan that dies
    * at task time with a raw FileNotFoundException. Not archiving it
    * turns that into the clean "version unavailable" planning error.
    *
    * `rewriteCommit = true` declares that this commit REPLACED live rows
    * in place (row-level DML, `replaceKeyRanges`, truncate) — it stamps
    * [[KvTableMeta.lastRewriteVersion]] to the committing version;
    * append/compaction commits leave the watermark carried forward. */
  def writeMeta(tableDir: String, meta: KvTableMeta,
                archiveSuperseded: Boolean = true,
                rewriteCommit: Boolean = false): Unit = {
    val commitV = meta.version + 1
    val livePath = Paths.get(metaPath(tableDir))
    // COMMIT path: parse the live manifest directly, bypassing the
    // (mtime, size)-validated cache. A cross-process committer whose
    // rewrite lands in the same timestamp granule at an identical byte
    // size would otherwise feed a stale prevOpt into the lineage diff
    // below, silently mis-stamping addedVersion/retiredAdds — stale-
    // within-a-granule is acceptable freshness for READERS, never for
    // the write that derives lineage. One extra parse per commit under
    // the table lock is negligible.
    val prevOpt =
      if (Files.exists(livePath)) Some(parseMetaFile(livePath.toFile)) else None
    // ---- add lineage (computed HERE, never by committers) ----
    // addedVersion: a file absent from the superseded manifest was
    // created by this commit; a carried-over file keeps its stamp (the
    // prev manifest's value wins, so a committer copying stale entries
    // cannot falsify lineage).
    val prevByFile = prevOpt.map(_.shards.map(s => s.file -> s).toMap)
      .getOrElse(Map.empty[String, KvShardMeta])
    val normShards = meta.shards.map { s =>
      val av = prevByFile.get(s.file).map(_.addedVersion).getOrElse(commitV)
      if (s.addedVersion == av) s else s.copy(addedVersion = av)
    }
    // retiredAdds: genuine data adds (addedVersion == firstVersion > 0)
    // that this commit removed from the live set join the carried list;
    // truncate (archiveSuperseded = false) resets lineage — its deleted
    // files must make an out-of-window catch-up fail loudly, not plan.
    // addsSince bootstraps at prev.version for pre-lineage tables
    // (history before that commit is only reachable via the chain) and
    // advances so the carried list stays bounded at MaxAddLineage.
    val (carriedRetired, baseSince) =
      if (!archiveSuperseded) (Nil, commitV - 1)
      else prevOpt match {
        case Some(prev) =>
          val kept = normShards.map(_.file).toSet
          val newlyRetired = prev.shards.filter(s =>
            !kept(s.file) && s.firstVersion > 0 && s.addedVersion == s.firstVersion)
          (prev.retiredAdds ++ newlyRetired,
            if (prev.addsSince < 0) prev.version else prev.addsSince)
        case None => (Nil, 0L)
      }
    val addsSince = math.max(baseSince, commitV - MaxAddLineage)
    val retired = carriedRetired.filter(_.firstVersion > addsSince)

    val node = mapper.createObjectNode()
    def writeShard(arr: com.fasterxml.jackson.databind.node.ArrayNode,
                   s: KvShardMeta): Unit = {
      val o = arr.addObject()
      o.put("file", s.file); o.put("rows", s.rows)
      o.put("minKeyHex", s.minKeyHex); o.put("maxKeyHex", s.maxKeyHex)
      if (s.hosts.nonEmpty) {
        val h = o.putArray("hosts")
        s.hosts.foreach(h.add)
      }
      if (s.stats.nonEmpty) {
        val st = o.putObject("stats")
        s.stats.foreach { case (k, (mn, mx)) =>
          val e = st.putObject(k); e.put("min", mn); e.put("max", mx)
        }
      }
      if (s.crc32cHex.nonEmpty) o.put("crc32c", s.crc32cHex)
      if (s.bloom.nonEmpty) o.put("bloom", s.bloom)
      if (s.bucket >= 0) o.put("bucket", s.bucket)
      if (s.bucketMod > 0) o.put("bucketMod", s.bucketMod)
      if (s.firstVersion > 0) o.put("firstVersion", s.firstVersion)
      if (s.addedVersion > 0) o.put("addedVersion", s.addedVersion)
    }
    val arr = node.putArray("shards")
    normShards.foreach(writeShard(arr, _))
    if (retired.nonEmpty) {
      val rarr = node.putArray("retiredAdds")
      retired.foreach(writeShard(rarr, _))
    }
    node.put("addsSince", addsSince)
    // rewrite watermark: stamped by the committing version on declared
    // rewrites, carried from the superseded manifest otherwise (the
    // passed meta's value is IGNORED — like the lineage fields, this is
    // maintained here, never by committers copying state around)
    val rewriteV =
      if (rewriteCommit) commitV
      else prevOpt.map(_.lastRewriteVersion).getOrElse(0L)
    if (rewriteV > 0) node.put("lastRewriteVersion", rewriteV)
    if (meta.committedEpochs.nonEmpty) {
      val e = node.putArray("committedEpochs")
      meta.committedEpochs.foreach(e.add)
    }
    Files.createDirectories(Paths.get(tableDir))
    // archive the manifest being superseded, then commit version+1;
    // the archive copy happens before the move, so a crash in between
    // leaves the CURRENT manifest untouched (the archive is redundant,
    // never load-bearing for the live table)
    val live = livePath
    if (Files.exists(live) && archiveSuperseded) {
      Files.copy(live, Paths.get(s"$tableDir/_kvmeta.v${meta.version}.json"),
        StandardCopyOption.REPLACE_EXISTING)
      val drop = meta.version - MaxArchivedManifests
      if (drop >= 0)
        Files.deleteIfExists(Paths.get(s"$tableDir/_kvmeta.v$drop.json"))
    }
    node.put("version", meta.version + 1)
    node.put("committedAtMs", System.currentTimeMillis())
    graft.util.Dirs.writeAtomic(live.toFile,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    // exact same-JVM read-after-write even on coarse-mtime filesystems:
    // the next readMetaFile re-parses the moved file once and re-memoizes
    manifestCache.remove(live.toFile.getAbsolutePath)
  }

  // ---- shard writer ----

  /** Streams records (must arrive sorted by key within the shard) to a
    * shard file; tracks min/max/rows for the manifest entry. Same
    * hand-rolled buffering as the reader: DataOutputStream.writeInt is
    * four synchronized single-byte writes, which dominates ingest CPU
    * at chunked-write volume. */
  final class ShardWriter(tableDir: String, fileName: String) {
    Files.createDirectories(Paths.get(tableDir))
    private val out = new FileOutputStream(s"$tableDir/$fileName")
    private val buf = new Array[Byte](1 << 20)
    private var pos = 0
    // CRC32C over every byte of the file (hardware-accelerated on
    // x86/ARM) — recorded in the manifest so maintenance can detect
    // bit-rot instead of merging or serving decoded garbage
    private val crc = new java.util.zip.CRC32C

    private def flushBuf(): Unit =
      if (pos > 0) { crc.update(buf, 0, pos); out.write(buf, 0, pos); pos = 0 }
    private def need(n: Int): Unit = if (buf.length - pos < n) flushBuf()
    private def putInt(v: Int): Unit = {
      need(4)
      val p = pos
      buf(p) = (v >>> 24).toByte; buf(p + 1) = (v >>> 16).toByte
      buf(p + 2) = (v >>> 8).toByte; buf(p + 3) = v.toByte
      pos = p + 4
    }
    private def putShort(v: Int): Unit = {
      need(2)
      buf(pos) = (v >>> 8).toByte; buf(pos + 1) = v.toByte
      pos += 2
    }
    private def putBytes(b: Array[Byte]): Unit =
      if (b.length <= buf.length - pos) {
        System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
      } else { flushBuf(); crc.update(b); out.write(b) }

    putBytes(Magic)
    private var rows = 0L
    private var minKey: Array[Byte] = _
    private var maxKey: Array[Byte] = _
    private var lastKey: Array[Byte] = _

    // cell names repeat every record — cache their UTF-8 bytes BY VALUE
    // so append() does not re-encode two strings per cell. Callers hand
    // in many equal instances (the Spark write path one per column's
    // metadata, a compaction merge one per input reader), so an
    // identity cache misses; a String caches its hash, so a lookup is a
    // field read plus, on the usual same-instance hit, a pointer compare
    private val nameBytes = new java.util.HashMap[String, Array[Byte]]()
    private def utf8(s: String): Array[Byte] = {
      var b = nameBytes.get(s)
      if (b == null) {
        b = s.getBytes(StandardCharsets.UTF_8)
        // bounded: names are a table's column names, not data
        if (nameBytes.size < 4096) nameBytes.put(s, b)
      }
      b
    }

    def append(rec: KvRecord): Unit = {
      if (lastKey != null)
        require(BytesCodec.compareKeys(lastKey, rec.key) <= 0,
          s"records out of order in shard $fileName")
      lastKey = rec.key
      if (minKey == null) minKey = rec.key
      maxKey = rec.key
      putInt(rec.key.length); putBytes(rec.key)
      putInt(rec.cells.length)
      rec.cells.foreach { c =>
        val cf = utf8(c.cf)
        val q = utf8(c.qualifier)
        putShort(cf.length); putBytes(cf)
        putShort(q.length); putBytes(q)
        putInt(c.value.length); putBytes(c.value)
      }
      rows += 1
    }

    /** → manifest entry (None if no rows were written; file removed). */
    def close(): Option[KvShardMeta] = {
      flushBuf()
      out.close()
      if (rows == 0) { new File(s"$tableDir/$fileName").delete(); None }
      else Some(KvShardMeta(fileName, rows, toHex(minKey), toHex(maxKey),
        crc32cHex = f"${crc.getValue}%08x"))
    }
  }

  // ---- shard integrity ----

  /** Verify one shard's bytes against its manifest CRC32C. No-op for
    * legacy entries without a recorded checksum. Throws with the file
    * name on mismatch — callers (compaction, explicit fsck) must fail
    * loudly rather than propagate decoded garbage. */
  def verifyShard(tableDir: String, shard: KvShardMeta): Unit = {
    if (shard.crc32cHex.isEmpty) return
    val crc = new java.util.zip.CRC32C
    val in = new FileInputStream(s"$tableDir/${shard.file}")
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { crc.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    val got = f"${crc.getValue}%08x"
    if (got != shard.crc32cHex)
      throw new IllegalStateException(
        s"shard ${shard.file} is corrupt: crc32c $got != manifest ${shard.crc32cHex}")
  }

  /** fsck for a table: verify every manifest shard's checksum. Returns
    * the number of shards actually verified (legacy entries without a
    * CRC are skipped); throws on the first corrupt shard. */
  def verifyTable(tableDir: String): Int = {
    val shards = readMeta(tableDir).shards
    shards.foreach(verifyShard(tableDir, _))
    shards.count(_.crc32cHex.nonEmpty)
  }

  // ---- shard reader ----

  /** Streaming iterator over one shard, optionally clipped to an
    * inclusive key range (start/end nullable).
    *
    * `wanted(cf, qualifier)` (nullable = keep everything) lets scans
    * drop cells for unprojected columns AT PARSE TIME: the value bytes
    * are skipped in the stream instead of allocated+copied, and the
    * cell object is never built. Maintenance readers (compactor) pass
    * null and see every cell. The parse loop is the innermost loop of
    * every KV scan — it avoids per-cell allocation for the cf/qualifier
    * names entirely (scratch buffer + tiny intern table, names repeat
    * on every record) and skips cell parsing for records outside the
    * clipped key range. */
  /** Zero-copy per-record callback for [[ShardReader.visitNext]]: cell
    * value bytes are a SLICE of the reader's internal buffer, valid only
    * for the duration of the `cell` call. cf/qualifier strings are
    * interned per shard (reference-comparable across records). */
  trait CellVisitor {
    def startRecord(key: Array[Byte]): Unit
    def cell(cf: String, qualifier: String, buf: Array[Byte], off: Int, len: Int): Unit
    def endRecord(): Unit
  }

  final class ShardReader(tableDir: String, shard: KvShardMeta,
                          startKey: Array[Byte] = null,
                          endKey: Array[Byte] = null,
                          wanted: (String, String) => Boolean = null,
                          verifyCrc: Boolean = false,
                          ranges: Array[(Array[Byte], Array[Byte])] = null,
                          lazyStart: Boolean = false)
      extends Iterator[KvRecord] with Closeable {

    // Clip ranges: either the legacy single [startKey, endKey] span or a
    // SORTED DISJOINT multi-range set (null bound = unbounded). Records
    // in the gaps between ranges skip cell parsing exactly like records
    // before the span start; records past the last bounded range stop
    // the read early. The file is sorted, so one forward cursor (`ri`)
    // suffices.
    private val rLos: Array[Array[Byte]] =
      if (ranges != null) ranges.map(_._1) else Array(startKey)
    private val rHis: Array[Array[Byte]] =
      if (ranges != null) ranges.map(_._2) else Array(endKey)
    private var ri = 0
    /** 0 = in range, 1 = gap (skip), 2 = past all ranges (stop). */
    private def classify(k: Array[Byte]): Int = {
      while (ri < rHis.length && rHis(ri) != null &&
             BytesCodec.compareKeys(k, rHis(ri)) > 0) ri += 1
      if (ri == rLos.length) 2
      else if (rLos(ri) != null && BytesCodec.compareKeys(k, rLos(ri)) < 0) 1
      else 0
    }

    // Inline integrity for FULL reads (compaction): CRC accumulates on
    // the refill path, so verification costs no second pass over the
    // file. Only meaningful when the read consumes every byte — a
    // stream-level skip (unprojected big cell) or an endKey early-stop
    // marks the CRC unverifiable and the check is skipped, never
    // wrongly failed. Verification fires at clean EOF.
    private val crc: java.util.zip.CRC32C =
      if (verifyCrc && shard.crc32cHex.nonEmpty) new java.util.zip.CRC32C else null
    private var crcComplete = true
    // file bytes consumed (refilled or stream-skipped) — one add per
    // 1 MiB refill, surfaced as the scan's kvBytesRead task metric
    private var bytesConsumed = 0L
    def bytesRead: Long = bytesConsumed

    // Hand-rolled buffered parser instead of DataInputStream: readInt()
    // over BufferedInputStream costs four SYNCHRONIZED single-byte reads
    // per int, which profiled as ~70% of single-threaded full-scan time.
    // Here every length/value parse is straight-line array indexing over
    // a 1 MiB buffer with one refill branch.
    //
    // The open runs at READER CONSTRUCTION (task start), which is the
    // race boundary with retain-mode compaction + vacuum: a task that
    // has reached this line holds the fd and keeps reading its shard
    // even after vacuum unlinks the path (POSIX unlink-while-open), so
    // an IN-FLIGHT scan is never corrupted by reclamation — pinned by
    // ProbeCompactionRaceSpec. A task whose file vanished BEFORE it
    // started (scan planned, then compact + vacuum won the race inside
    // the grace window) gets the contract error below instead of a raw
    // FileNotFoundException: the fix is operational (vacuum grace must
    // exceed the longest-running scan — KvCompactor.vacuum's documented
    // contract), not a retry.
    private val in =
      try new FileInputStream(s"$tableDir/${shard.file}")
      catch {
        case e: java.io.FileNotFoundException => throw new IllegalStateException(
          s"shard ${shard.file} was deleted from under this scan — if a " +
            "compact+vacuum cycle ran since the scan was planned, its grace " +
            "period undercut a running reader: size graft.ivfVacuumGraceMs " +
            "(or the vacuum grace argument) beyond the longest-running " +
            "probe. See KvCompactor.vacuum.", e)
      }
    private var buf = new Array[Byte](1 << 20)
    private var pos = 0 // next unread byte
    private var lim = 0 // valid bytes in buf

    /** Make `n` contiguous bytes available at `pos`; false on clean EOF
      * with zero buffered bytes (record boundary), throws mid-record. */
    private def ensure(n: Int): Boolean = {
      if (lim - pos >= n) return true
      if (pos > 0) { System.arraycopy(buf, pos, buf, 0, lim - pos); lim -= pos; pos = 0 }
      if (n > buf.length) {
        // long math: doubling-or-n, clamped — highestOneBit(n)<<1 would
        // overflow negative for n in (2^30, 2^31)
        val target = math.min(Int.MaxValue.toLong - 8L,
          math.max(n.toLong, buf.length.toLong * 2L)).toInt
        buf = java.util.Arrays.copyOf(buf, target)
      }
      while (lim < n) {
        val r = in.read(buf, lim, buf.length - lim)
        if (r < 0) {
          if (lim == 0) return false
          throw new EOFException(s"truncated shard ${shard.file}")
        }
        if (crc != null) crc.update(buf, lim, r)
        bytesConsumed += r
        lim += r
      }
      true
    }
    private def readIntB(): Int = {
      val p = pos; pos = p + 4
      ((buf(p) & 0xff) << 24) | ((buf(p + 1) & 0xff) << 16) |
        ((buf(p + 2) & 0xff) << 8) | (buf(p + 3) & 0xff)
    }
    private def readShortB(): Int = {
      val p = pos; pos = p + 2
      ((buf(p) & 0xff) << 8) | (buf(p + 1) & 0xff)
    }
    private def readBytesB(n: Int): Array[Byte] = {
      if (!ensure(n)) throw new EOFException(s"truncated shard ${shard.file}")
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      a
    }
    private def skipB(n: Int): Unit = {
      // skip within the buffer when possible; fall through to the stream
      // for anything larger (no copy either way)
      if (lim - pos >= n) pos += n
      else {
        val buffered = lim - pos
        pos = 0; lim = 0
        crcComplete = false // skipped bytes never reach the CRC
        bytesConsumed += (n - buffered).toLong
        in.skipNBytes((n - buffered).toLong)
      }
    }

    locally {
      require(ensure(4) && java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(buf, pos, pos + 4), Magic),
        s"bad magic in ${shard.file}")
      pos += 4
    }
    private var nextRec: KvRecord = _
    private var done = false

    // cf/qualifier intern: names repeat on every record, and a table has
    // only a handful of distinct ones — compare in place against a tiny
    // table (no per-cell allocation at all on the hit path)
    private var internedBytes = new Array[Array[Byte]](8)
    private var internedStrs = new Array[String](8)
    private var internedN = 0
    private def readName(): String = {
      if (!ensure(2)) throw new EOFException(s"truncated shard ${shard.file}")
      val len = readShortB()
      if (!ensure(len)) throw new EOFException(s"truncated shard ${shard.file}")
      val p = pos
      pos += len
      var i = 0
      while (i < internedN) {
        val b = internedBytes(i)
        if (b.length == len && java.util.Arrays.equals(b, 0, len, buf, p, p + len))
          return internedStrs(i)
        i += 1
      }
      if (internedN == internedBytes.length) {
        internedBytes = java.util.Arrays.copyOf(internedBytes, internedN * 2)
        internedStrs = java.util.Arrays.copyOf(internedStrs, internedN * 2)
      }
      val copy = java.util.Arrays.copyOfRange(buf, p, p + len)
      val s = new String(copy, StandardCharsets.UTF_8)
      internedBytes(internedN) = copy
      internedStrs(internedN) = s
      internedN += 1
      s
    }

    // reused per-record cell staging (compacted into an exact-size
    // ArraySeq only for the cells that survive `wanted`)
    private var cellScratch = new Array[KvCell](8)

    /** Classification of the record `readRecord` just returned. */
    private var cls = 0

    /** Parse one record. A key outside every clip range skips all
      * cell parsing (lengths read, bytes skipped, nothing built) — the
      * key alone decides whether the scan has reached a range. */
    private def readRecord(): KvRecord = {
      if (!ensure(4)) return null
      val keyLen = readIntB()
      val key = readBytesB(keyLen)
      if (!ensure(4)) throw new EOFException(s"truncated shard ${shard.file}")
      val n = readIntB()
      cls = classify(key)
      if (cls != 0) {
        var i = 0
        while (i < n) {
          if (!ensure(2)) throw new EOFException(s"truncated shard ${shard.file}")
          skipB(readShortB()) // cf
          if (!ensure(2)) throw new EOFException(s"truncated shard ${shard.file}")
          skipB(readShortB()) // qualifier
          if (!ensure(4)) throw new EOFException(s"truncated shard ${shard.file}")
          skipB(readIntB())   // value
          i += 1
        }
        KvRecord(key, KvStore.NoCells)
      } else {
        if (cellScratch.length < n) cellScratch = new Array[KvCell](n)
        var kept = 0
        var i = 0
        while (i < n) {
          val cf = readName()
          val q = readName()
          if (!ensure(4)) throw new EOFException(s"truncated shard ${shard.file}")
          val vLen = readIntB()
          if (wanted == null || wanted(cf, q)) {
            cellScratch(kept) = KvCell(cf, q, readBytesB(vLen))
            kept += 1
          } else skipB(vLen)
          i += 1
        }
        val cells =
          if (kept == 0) KvStore.NoCells
          else scala.collection.immutable.ArraySeq.unsafeWrapArray(
            java.util.Arrays.copyOf(cellScratch, kept))
        KvRecord(key, cells)
      }
    }

    private def advance(): Unit = {
      while (!done) {
        val r = readRecord()
        if (r == null) {
          // clean EOF = the whole file passed through the buffer — the
          // only point where the inline CRC covers every byte
          if (crc != null && crcComplete) {
            val got = f"${crc.getValue}%08x"
            if (got != shard.crc32cHex)
              throw new IllegalStateException(
                s"shard ${shard.file} is corrupt: crc32c $got != manifest ${shard.crc32cHex}")
          }
          done = true; nextRec = null; close()
        }
        else if (cls == 1) () // gap between ranges: parsed key, skipped cells
        else if (cls == 2) {
          // sorted file → nothing further can match; bytes remain unread
          crcComplete = false
          done = true; nextRec = null; close()
        } else { nextRec = r; return }
      }
    }

    if (!lazyStart) advance()
    override def hasNext: Boolean = nextRec != null
    override def next(): KvRecord = {
      val r = nextRec
      if (done) nextRec = null else advance()
      r
    }

    /** Zero-copy streaming parse of ONE record into `vis` — the batch
      * decode path's innermost loop. Bypasses KvRecord/KvCell
      * construction and the per-value byte copy entirely: wanted cell
      * values are handed to the visitor as slices of the internal
      * buffer. Requires `lazyStart = true` (the iterator API would have
      * materialized the first record already) and an unclipped reader —
      * clipped scans carry pushed filters and ride the iterator path.
      * Returns false at clean EOF (CRC verified like the iterator). */
    def visitNext(vis: CellVisitor): Boolean = {
      if (done) return false
      if (!ensure(4)) {
        if (crc != null && crcComplete) {
          val got = f"${crc.getValue}%08x"
          if (got != shard.crc32cHex)
            throw new IllegalStateException(
              s"shard ${shard.file} is corrupt: crc32c $got != manifest ${shard.crc32cHex}")
        }
        done = true; close()
        return false
      }
      val keyLen = readIntB()
      val key = readBytesB(keyLen)
      if (!ensure(4)) throw new EOFException(s"truncated shard ${shard.file}")
      val n = readIntB()
      vis.startRecord(key)
      var i = 0
      while (i < n) {
        val cf = readName()
        val q = readName()
        if (!ensure(4)) throw new EOFException(s"truncated shard ${shard.file}")
        val vLen = readIntB()
        if (wanted == null || wanted(cf, q)) {
          if (!ensure(vLen)) throw new EOFException(s"truncated shard ${shard.file}")
          // NOTE: ensure may have replaced `buf`; read the field after it
          vis.cell(cf, q, buf, pos, vLen)
          pos += vLen
        } else skipB(vLen)
        i += 1
      }
      vis.endRecord()
      true
    }

    override def close(): Unit = in.close()
  }
}
