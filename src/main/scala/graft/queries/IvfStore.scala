package graft.queries

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{Q, Tables}
import graft.kv.KvStore
import graft.util.Dirs.{cacheKey, rmrf, writeAtomic}
import graft.queries.Similarity.IvfIndex
import graft.sources.KeyRanges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF ANN index — the q53 quantizer's Θ(n^1.25) build paid
  * ONCE per corpus, not per session, and extended INCREMENTALLY as the
  * corpus appends.
  *
  * [[Similarity.ivfIndex]] / [[Similarity.ivfProbe]] split build from
  * probe, but the split stops at session scope: every new session (or
  * probe batch on another driver) re-assigns the whole corpus before it
  * can probe — at 100 TB the assignment is days of cluster time and the
  * probe is seconds, so an index that cannot outlive its builder is not
  * an index. This store writes the two index relations through the
  * engine's own `graft-kv` source:
  *
  *  - `centroids` (rowkey cid; gid, cemb): the routed fine-centroid
  *    table. The coarse router is BY CONSTRUCTION the prefix cid ≤ c of
  *    the same table (the md5-sample rule), so it is re-derived on load
  *    as a rowkey-range scan rather than persisted twice — the two
  *    copies could otherwise drift.
  *  - `assigned` (rowkey vec_id; embedding, cell): the assigned corpus.
  *
  * plus `_ivfmeta.json` holding the quantizer arithmetic (n, k, c), a
  * CORPUS FINGERPRINT, and the corpus FILE LISTING the fingerprint was
  * computed from. The meta write is the commit point: a crash mid-build
  * (or mid-update) leaves the pinned manifest versions untouched, and
  * the next ensure() recovers.
  *
  * Staleness guard: the fingerprint is the corpus file listing —
  * relative path, byte length and mtime of every DATA file (underscore/
  * dot-prefixed marker files like Spark's `_SUCCESS` are not corpus
  * data and are excluded — an append commit rewrites `_SUCCESS`, which
  * must not read as a data rewrite). Checking it is O(#files) metadata
  * stats, NEVER a data scan. Because the listing itself is persisted, a
  * mismatch is CLASSIFIED, not just detected:
  *
  *  - PURE APPEND — every file the index was built from is still
  *    present byte-identical (path, length, mtime) and new files
  *    exist. [[ensure]] applies an APPEND-INCREMENTAL update: only the
  *    new files' vectors are read and assigned against the FROZEN
  *    centroids, and the result is append-committed to the `assigned`
  *    KV table — update cost is Θ(delta·(c + k/c)) cosine evaluations,
  *    proportional to the delta, never to the corpus. k/c/centroids do
  *    not change, so an incrementally-extended index drifts from a
  *    fresh rebuild only in quantization QUALITY, bounded by the
  *    appended fraction the meta records (`appendedRows`/`n`, and by
  *    bytes vs `baseBytes`); past `graft.ivfMaxAppendFrac` (default
  *    0.25 by bytes) ensure() refuses and the caller runs [[build]].
  *  - REWRITE — a built-from file changed or disappeared: assignments
  *    already in the index may describe vectors that no longer exist,
  *    so only a full rebuild is sound. Refused with a rebuild hint.
  *
  * The policy over these classifications is [[lifecycle]], shared with
  * [[IvfKvStore]]; this store supplies only the file-listing classifier
  * and the byte drift.
  *
  * The incremental contract assumes appended files carry NEW rowkeys
  * (the definition of an append-only corpus); re-introducing an
  * existing vec_id in an appended file is a logical rewrite the
  * file-level guard cannot see, exactly as for any keyed table fed by
  * an append-only log.
  *
  * Version pinning rides the KV store's own manifest-version machinery:
  * `_ivfmeta.json` records the manifest version of each table the index
  * state corresponds to, and [[load]] pins both reads `asOfVersion`
  * there — a loaded index can never mix two builds' states, and a
  * crashed update (KV append committed, meta not) leaves readers pinned
  * at the last consistent pair. ensure() detects that dangling commit
  * (table version ahead of the meta's) and falls back to a full rebuild
  * rather than risk double-appending the delta.
  */
object IvfStore {

  private val mapper = new ObjectMapper()

  private def centCatalog(name: String) =
    s"""{"table":{"name":"$name"},"rowkey":"cid",
       | "columns":{"cid":{"cf":"rowkey","col":"cid","type":"int"},
       |            "gid":{"cf":"i","col":"g","type":"int"},
       |            "cemb":{"cf":"i","col":"e","type":"array<float>"}}}""".stripMargin

  private[queries] def assignedCatalog(name: String) =
    s"""{"table":{"name":"$name"},"rowkey":"vec_id",
       | "columns":{"vec_id":{"cf":"rowkey","col":"vec_id","type":"long"},
       |            "embedding":{"cf":"i","col":"e","type":"array<float>"},
       |            "cell":{"cf":"i","col":"c","type":"int"}}}""".stripMargin

  /** Same corpus-dir cache keying as the KV query tables: basename plus
    * a full-path hash, so same-named corpora never share an index.
    * Package-visible so the stress harness points at the REAL path
    * instead of re-deriving the formula (which would silently break its
    * built-detection if this keying ever changed). */
  private[graft] def indexRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivf-${cacheKey(sfDir)}")

  private[graft] def metaFile(root: String) = new File(s"$root/_ivfmeta.json")

  private def readIvfMeta(root: String): JsonNode =
    mapper.readTree(metaFile(root))

  private def pretty(node: JsonNode): Array[Byte] =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)

  /** A marker file's JSON, or None when it is absent or unparseable: a
    * marker torn by a crash mid-write makes no claim — the rule
    * [[Bm25Store]]'s frontier stamp already follows ("unreadable = no
    * claim"), so a torn marker can never wedge a store. */
  private def readMarker(f: File): Option[JsonNode] =
    if (!f.exists()) None
    else try Some(mapper.readTree(f)) catch { case _: Exception => None }

  /** Index-write shard sizing: one shard per ~`graft.ivfShardTargetBytes`
    * (default 128 MiB) of estimated input bytes, floored at the
    * historical small-corpus counts (32 full-corpus / 4 delta) so the
    * committed tier layouts and oracle hashes are unchanged at test
    * scale, and capped defensively. A fixed 32 was right at sf0.1 but
    * would mean ~3 TB shards on a 100 TB corpus; sized by bytes the
    * same corpus gets ~800k shards of ~128 MiB each. */
  private[queries] def indexShards(s: SparkSession, bytes: Long, floor: Int): Int = {
    val target = math.max(1L,
      s.conf.get("graft.ivfShardTargetBytes", (128L << 20).toString).toLong)
    math.max(floor, math.min(1 << 20,
      math.ceil(bytes.toDouble / target).toInt))
  }

  /** Index-table SELF-maintenance: every incremental append/patch adds
    * shards to `assigned`, so over many maintenance cycles the index
    * table fragments without bound. This is the shared
    * [[StreamMaint.maybeCompact]] (retain mode, so superseded files stay
    * on the vacuum grace clock and a concurrently pinned load keeps
    * replaying its snapshot) with the meta re-pinned to the compacted
    * `assignedVersion` right after the swap, before any opt-in
    * reclamation — current loads pin the just-re-pinned version and
    * never replay reclaimed history. Compaction merges files and never
    * touches rows, so probe results are bit-identical.
    *
    * Caller must hold the index-root table lock (the KV-level swap
    * takes the assigned table's own lock — a different key, no
    * nesting). Crash contract: a crash between the compaction swap and
    * the meta re-pin leaves the KV version ahead of the meta — pinned
    * loads keep working (archived manifest + retained files), and the
    * next incremental window's dangling-commit guard answers with a
    * rebuild: sound, never silent. */
  private[queries] def maybeCompactAssigned(s: SparkSession, root: String): Unit =
    StreamMaint.maybeCompact(s, s"$root/assigned",
      onSwap = () => commitMeta(root, readIvfMeta(root).deepCopy[ObjectNode]()))

  /** The corpus DATA file listing: (relative-path, file) of every file
    * under the embeddings input, skipping underscore/dot-prefixed
    * markers (`_SUCCESS`, `.crc` — the same convention parquet readers
    * use). Sorted, so listings and fingerprints are deterministic. */
  private def corpusDataFiles(sfDir: String): Seq[(String, File)] = {
    val base = new File(s"$sfDir/embeddings.parquet")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(base)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => (base.toPath.relativize(f.toPath).toString, f))
  }

  private def listingEntries(files: Seq[(String, File)]): Seq[String] =
    files.map { case (rel, f) => s"$rel:${f.length()}:${f.lastModified()}" }

  /** Corpus freshness fingerprint: md5 over the sorted
    * (relative path, length, mtime) data-file listing — file-level
    * metadata only, no data read. Any rewrite, append, repartition or
    * regeneration of the corpus changes it. */
  private[queries] def corpusFingerprint(sfDir: String): String =
    md5Of(listingEntries(corpusDataFiles(sfDir)))

  private def md5Of(entries: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Record a data-file listing and its fingerprint in a meta node. */
  private def stampListing(files: Seq[String])(node: ObjectNode): Unit = {
    node.put("fingerprint", md5Of(files))
    val farr = node.putArray("files")
    files.foreach(farr.add)
  }

  /** The parquet corpus's classifier: the current data-file listing
    * against the one the meta recorded. The drift is by bytes and
    * cumulative since the centroids were FIT (`baseBytes`), not since
    * the last update — repeated small appends must not sneak past the
    * quality bound. */
  private def classify(s: SparkSession, sfDir: String, meta: JsonNode): Movement = {
    val current = corpusDataFiles(sfDir)
    val curEntries = listingEntries(current)
    if (md5Of(curEntries) == meta.path("fingerprint").asText()) return Fresh
    def rewritten(changed: Seq[String], removed: Seq[String]) = Stale(
      s"the corpus was REWRITTEN in place (${changed.size} changed, " +
        s"${removed.size} removed data files" +
        (changed ++ removed).take(3).mkString(": ", ", ", "") +
        "), so assignments in the index may describe vectors that no longer exist")
    val storedNode = meta.path("files")
    if (!storedNode.isArray)
      // pre-listing meta (or hand-edited): cannot prove pure append —
      // the only sound reading of an unclassifiable mismatch is rewrite
      return rewritten(Seq("<index predates file-listing metadata>"), Nil)
    import scala.jdk.CollectionConverters._
    val stored = storedNode.elements().asScala.map(_.asText()).toSeq
    def relOf(e: String) = e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1))
    val curByRel = curEntries.map(e => relOf(e) -> e).toMap
    val changed = stored.filter(e => curByRel.get(relOf(e)).exists(_ != e)).map(relOf)
    val removed = stored.filterNot(e => curByRel.contains(relOf(e))).map(relOf)
    if (changed.nonEmpty || removed.nonEmpty) return rewritten(changed, removed)
    // all stored files intact and fingerprint differs ⇒ new files exist
    val storedRels = stored.map(relOf).toSet
    val newFiles = current.collect { case (rel, f) if !storedRels(rel) => f }
    val newBytes = newFiles.map(_.length()).sum
    val totalBytes = current.map(_._2.length()).sum
    Appended(
      f"the corpus GREW BY PURE APPEND (${newFiles.size} new data files, " +
        f"${100.0 * newBytes / math.max(1L, totalBytes)}%.1f%% of corpus bytes)",
      drift = (totalBytes - meta.path("baseBytes").asLong()).toDouble /
        math.max(1L, totalBytes),
      bytes = newBytes,
      rows = () => s.read.parquet(newFiles.map(_.getPath): _*)
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      stamp = stampListing(curEntries))
  }

  /** Build the index from the corpus and commit it: both KV tables, then
    * the meta (the commit point). Returns the loaded index. The whole
    * build runs under the KV layer's cross-process table lock on the
    * index root — two concurrent builders would otherwise interleave
    * their table overwrites and the surviving meta could point at one
    * builder's centroids over the other's assignment. */
  def build(s: SparkSession, sfDir: String): IvfIndex =
    KvStore.withTableLock(indexRoot(sfDir)) { buildLocked(s, sfDir) }

  private def buildLocked(s: SparkSession, sfDir: String): IvfIndex = {
    val files = corpusDataFiles(sfDir)
    val stamp = stampListing(listingEntries(files)) _ // stat before the build reads
    val idx = Similarity.ivfIndex(s, sfDir)
    writeIndex(s, indexRoot(sfDir), sfDir, idx, files.map(_._2.length()).sum,
      recordBaseBytes = true)(stamp)
  }

  // ---- the IVF commit path, shared with IvfKvStore ----

  /** Write a full index over `idx` at `root` and commit it: the routed
    * fine-centroid table, the assigned corpus (both overwritten), then
    * the base meta — the commit point. `stamp` records the corpus state
    * the build covers (the file listing here, the manifest version for
    * [[IvfKvStore]]); `recordBaseBytes` keeps the byte-proxy drift base
    * that only the file-listing store needs. Returns the pinned load. */
  private[queries] def writeIndex(s: SparkSession, root: String, corpusDir: String,
                                  idx: IvfIndex, corpusBytes: Long,
                                  recordBaseBytes: Boolean)
                                 (stamp: ObjectNode => Unit): IvfIndex = {
    val k = idx.nlist
    val c = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
    // fine-centroid table: k rows — estimated as the k/n slice of the
    // corpus bytes (the embedding dominates a row either way)
    idx.centRouted
      .select(col("cid"), col("gid"), col("cemb"))
      .repartitionByRange(indexShards(s,
        corpusBytes * k / math.max(1L, idx.nVectors), 4), col("cid"))
      .write.format("graft-kv")
      .option("catalog", centCatalog("ivf_centroids"))
      .option("path", s"$root/centroids")
      .mode("overwrite").save()
    // assigned corpus: range-partitioned on vec_id for non-overlapping
    // shards (the probe's cell-keyed join reads it shuffled on cell
    // either way; the rowkey layout serves point/range lookups),
    // shard count sized by corpus bytes (floor 32)
    idx.assigned
      .select(col("vec_id"), col("embedding"), col("cell"))
      .repartitionByRange(indexShards(s, corpusBytes, 32), col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", assignedCatalog("ivf_assigned"))
      .option("path", s"$root/assigned")
      .mode("overwrite").save()
    val n = idx.nVectors
    val node = mapper.createObjectNode()
    node.put("corpus", new File(corpusDir).getAbsolutePath)
    stamp(node)
    node.put("n", n); node.put("k", k); node.put("c", c)
    node.put("baseN", n)
    if (recordBaseBytes) node.put("baseBytes", corpusBytes)
    node.put("appendedRows", 0L)
    node.put("centroidsVersion", KvStore.readMeta(s"$root/centroids").version)
    commitMeta(root, node)
    loadPinned(s, root, readIvfMeta(root))
  }

  /** The one `_ivfmeta.json` write: pin the `assigned` table's current
    * version into `node` and replace the meta atomically. */
  private def commitMeta(root: String, node: ObjectNode): Unit = {
    node.put("assignedVersion", KvStore.readMeta(s"$root/assigned").version)
    writeAtomic(metaFile(root), pretty(node))
  }

  /** Commit an incremental update whose KV write on `assigned` (if any)
    * already landed: copy `meta`, set `n` vectors, add `unseen` rows the
    * frozen centroids never saw to `appendedRows`, let `stamp` record
    * the corpus state, pin the table's new version and commit,
    * self-compact ([[maybeCompactAssigned]]), and return the pinned
    * reload. Every incremental IVF update — append, DML patch, empty-
    * delta re-pin, orphan adoption, stream batch — ends here. */
  private def advance(s: SparkSession, root: String, meta: JsonNode, n: Long, unseen: Long)
                     (stamp: ObjectNode => Unit): IvfIndex = {
    val node = meta.deepCopy[ObjectNode]()
    stamp(node)
    node.put("n", n)
    node.put("appendedRows", meta.path("appendedRows").asLong() + unseen)
    commitMeta(root, node)
    maybeCompactAssigned(s, root)
    loadPinned(s, root, readIvfMeta(root))
  }

  /** The one frozen-centroid write to `assigned`: assign `rows` against
    * the centroids pinned in `meta`, commit them in `shards` vec_id range
    * shards with the write `opts` (an append; an overwrite when
    * `replaceKeyRanges` names the key ranges it replaces), then
    * [[advance]] the meta. The parquet and KV appends, the KV region
    * patch and [[maintainBatch]] all write through here; the full build
    * ([[writeIndex]]) stays separate. `crashAfterAppend` stops right
    * after the KV commit — the state a crash between the two commits
    * leaves — and returns the still-pinned index. */
  private def assignFrozen(s: SparkSession, root: String, meta: JsonNode, rows: DataFrame,
                           shards: Int, opts: Map[String, String], n: Long, unseen: Long,
                           crashAfterAppend: Boolean = false)
                          (stamp: ObjectNode => Unit): IvfIndex = {
    val frozen = loadPinned(s, root, meta)
    // register on the rows' session too: inside a streaming foreachBatch
    // the batch frame belongs to the stream's CLONED session (registry
    // copied at stream start), so registering on `s` alone can leave
    // cosine_sim unresolvable in the session that analyzes this plan
    graft.functions.CosineSimilarity.register(rows.sparkSession)
    Similarity.assignRouted(rows, frozen.coarse, frozen.centRouted, frozen.nlist)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .repartitionByRange(shards, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", assignedCatalog("ivf_assigned"))
      .option("path", s"$root/assigned")
      .options(opts)
      .mode(if (opts.contains("replaceKeyRanges")) "overwrite" else "append").save()
    if (crashAfterAppend) frozen else advance(s, root, meta, n, unseen)(stamp)
  }

  /** The dangling-commit guard of every incremental update: a KV table
    * version ahead of the meta's pin means a prior update crashed
    * between its KV commit and its meta commit, and appending again
    * would double-insert that delta. Reads still serve the last
    * consistent state (they pin the meta's versions); the sound
    * recovery is a full rebuild — the caller's answer to `true`. */
  private def dangling(root: String, meta: JsonNode): Boolean = {
    val ahead =
      KvStore.readMeta(s"$root/assigned").version != meta.path("assignedVersion").asLong() ||
        KvStore.readMeta(s"$root/centroids").version != meta.path("centroidsVersion").asLong()
    if (ahead) System.err.println(
      s"[graft] dangling index commit detected at $root (KV table version ahead " +
        "of _ivfmeta.json — a prior update crashed between its KV commit and its " +
        "meta commit); falling back to a full rebuild")
    ahead
  }

  // ---- the one ensure/load policy, shared with IvfKvStore ----

  /** How a corpus moved since the state `_ivfmeta.json` covers, as each
    * store's classifier reads it: the file listing of a parquet corpus
    * here, the manifest of a graft-kv corpus in [[IvfKvStore]]. `what`
    * names the move in refusals. */
  private[queries] sealed trait Movement { def what: String }
  private[queries] case object Fresh extends Movement { def what = "the corpus is unchanged" }
  /** A move only a full rebuild covers. */
  private[queries] final case class Stale(what: String) extends Movement
  /** A pure append. `drift` is the fraction of the corpus the frozen
    * centroids have not seen once the append is indexed (by bytes for a
    * parquet corpus, by rows for a KV one); `rows` reads the appended
    * vectors, `bytes` sizes their write, `stamp` records the corpus
    * state they bring the index to. */
  private[queries] final case class Appended(what: String, drift: Double, bytes: Long,
      rows: () => DataFrame, stamp: ObjectNode => Unit) extends Movement
  /** A KV rewrite window whose touched key `ranges` hold `regionRows` of
    * the `total` live rows: `rows` reads the live region, `unseen`
    * counts its rows the frozen centroids never saw (changed or added),
    * `bytes` sizes the region's write. */
  private[queries] final case class Rewritten(what: String, ranges: Seq[KeyRanges.Range],
      regionRows: Long, total: Long, bytes: Long, rows: () => DataFrame,
      unseen: () => Long, stamp: ObjectNode => Unit) extends Movement

  /** The one refusal of both stores: names the corpus move and why
    * maintenance cannot cover it, and points at `build`. */
  private def refuse(root: String, what: String, why: String): Nothing =
    throw new IllegalStateException(
      s"persisted IVF index at $root was built against a different corpus state: " +
        s"$what; $why — run build for a full rebuild")

  /** The one ensure/load policy of both IVF stores; `classify` is the
    * store's own classifier, `build` its locked full build:
    *
    *  - fresh → the pinned load;
    *  - absent → `build`;
    *  - [[Appended]] within `graft.ivfMaxAppendFrac` (default 0.25) → a
    *    frozen-centroid increment; an empty delta only re-pins the meta;
    *  - [[Rewritten]] whose region is within `graft.ivfMaxDmlFrac`
    *    (default 0.5 — past it a rebuild is the cheaper and better-
    *    quality answer) and whose drift is within
    *    `graft.ivfMaxAppendFrac` → a region patch: one `replaceKeyRanges`
    *    commit fenced by `expectedVersion` against concurrent maintainers;
    *  - anything else → one refusal that names the move; the caller runs
    *    `build`. ensure() never rebuilds on its own — silently
    *    rebuilding a 100 TB index on what may be a misconfigured path is
    *    worse than failing.
    *
    * The one rebuild ensure() runs itself is crash recovery: a
    * [[dangling]] commit found before maintenance. `maintain = false` is
    * the read-only load: an absent index or any move refuses. ensure()
    * holds the index-root table lock throughout. */
  private[queries] def lifecycle(s: SparkSession, root: String, corpus: String,
                                 maintain: Boolean)(build: => IvfIndex)
                                (classify: JsonNode => Movement): IvfIndex = {
    def run(): IvfIndex = {
      val mf = metaFile(root)
      if (!mf.exists()) {
        if (maintain) return build
        throw new IllegalStateException(s"no persisted IVF index for $corpus " +
          s"(expected ${mf.getPath}); run build or ensure first")
      }
      val meta = readIvfMeta(root)
      val n = meta.path("n").asLong()
      def withinDrift(what: String, drift: Double): Unit = {
        val maxFrac = s.conf.get("graft.ivfMaxAppendFrac", "0.25").toDouble
        if (drift > maxFrac) refuse(root, what, f"the cumulative fraction $drift%.3f " +
          f"of the corpus unseen by the frozen centroids exceeds " +
          f"graft.ivfMaxAppendFrac=$maxFrac%.2f, so their drift bound is spent")
      }
      def assign(note: String, rows: DataFrame, bytes: Long, opts: Map[String, String],
                 nAfter: Long, unseen: Long, stamp: ObjectNode => Unit): IvfIndex = {
        System.err.println(s"[graft] IvfStore: assigning $note against frozen " +
          s"k=${meta.path("k").asLong()} centroids at $root")
        assignFrozen(s, root, meta, rows, indexShards(s, bytes, 4), opts, nAfter, unseen)(stamp)
      }
      classify(meta) match {
        case Fresh => loadPinned(s, root, meta)
        case m if !maintain => refuse(root, m.what, "load() never mutates the index")
        case Stale(what) => refuse(root, what, "only a full rebuild is sound")
        case _ if dangling(root, meta) => build
        case a: Appended =>
          withinDrift(a.what, a.drift)
          val rows = a.rows()
          val added = rows.count()
          if (added == 0L) advance(s, root, meta, n, 0L)(a.stamp)
          else assign(s"$added appended vectors", rows, a.bytes, Map.empty,
            n + added, added, a.stamp)
        case r: Rewritten =>
          val maxDml = s.conf.get("graft.ivfMaxDmlFrac", "0.5").toDouble
          val regionFrac = r.regionRows.toDouble / math.max(1L, r.total)
          if (regionFrac > maxDml) refuse(root, r.what,
            f"the window touches ${r.regionRows} of ${r.total} live rows ($regionFrac%.3f " +
              f"> graft.ivfMaxDmlFrac=$maxDml%.2f), so a rebuild is cheaper than a patch")
          val unseen = r.unseen()
          withinDrift(r.what, (meta.path("appendedRows").asLong() + unseen).toDouble /
            math.max(1L, r.total))
          assign(s"${r.regionRows} rows of a rewritten region ($unseen changed or added)",
            r.rows(), r.bytes,
            Map("replaceKeyRanges" -> KeyRanges.serializeBounded(r.ranges),
              "expectedVersion" -> meta.path("assignedVersion").asLong().toString),
            r.total, unseen, r.stamp)
      }
    }
    if (maintain) KvStore.withTableLock(root)(run()) else run()
  }

  /** Stage a scenario ONCE per source corpus, under the staging root's
    * table lock: a `_staged.json` marker matching `sourceFp` and
    * `phase` short-circuits; otherwise everything under `root` (but the
    * lock file) and the scenario's `index` root is wiped, `body`
    * re-stages and adds its own fields to the marker, and the marker is
    * written atomically LAST. A partial staging is therefore wiped and
    * redone, and a marker torn by a crash reads as "not staged". Keyed
    * on the SOURCE corpus fingerprint, so a regeneration of the source
    * re-stages from scratch. An empty `phase` is neither checked nor
    * written (the q133 stream stage's marker has never carried one). */
  private[queries] def stageOnce(root: String, sourceFp: String, phase: String,
                                 index: String)(body: ObjectNode => Unit): Unit =
    KvStore.withTableLock(root) {
      val marker = new File(s"$root/_staged.json")
      val staged = readMarker(marker).exists { m =>
        m.path("sourceFingerprint").asText() == sourceFp &&
          m.path("phase").asText() == phase
      }
      if (!staged) {
        Option(new File(root).listFiles()).toSeq.flatten
          .filterNot(_.getName == "_kvlock").foreach(rmrf)
        rmrf(new File(index))
        val node = mapper.createObjectNode()
        node.put("sourceFingerprint", sourceFp)
        if (phase.nonEmpty) node.put("phase", phase)
        body(node)
        writeAtomic(marker, pretty(node))
      }
    }

  /** The m-th smallest vec_id of `df` — a POSITIONAL threshold: vec_ids
    * are unique (the corpus rowkey), so `vec_id <= vecIdAt(df, m)` ≡ the
    * first m rows in vec_id order, which the oracles replay as
    * `row_number() OVER (ORDER BY vec_id)` bounds. */
  private[graft] def vecIdAt(df: DataFrame, m: Long): Long =
    df.select(col("vec_id")).orderBy(col("vec_id")).limit(m.toInt)
      .agg(max(col("vec_id"))).head().getLong(0)

  /** Cold-load the persisted index: meta parse + fingerprint stat + two
    * KV table reads. NO corpus scan, NO assignment work — this is the
    * path a fresh session probes through. Refuses loudly when the
    * corpus has changed since the build (saying HOW it changed — pure
    * append vs rewrite) or no index exists; load never mutates. */
  def load(s: SparkSession, sfDir: String): IvfIndex = open(s, sfDir, maintain = false)

  private def loadPinned(s: SparkSession, root: String, meta: JsonNode): IvfIndex = {
    val k = meta.path("k").asLong()
    val c = meta.path("c").asLong()
    graft.functions.CosineSimilarity.register(s)
    // pin both reads at the versions THIS index state committed (the KV
    // time-travel machinery): a loaded index can never silently mix two
    // builds' states — a concurrent rebuild's truncate-overwrite makes
    // a stale in-flight probe fail with the KV layer's clean
    // "version unavailable" planning error instead of serving rows
    // assigned under one quantizer through another's centroids
    val cent = s.read.format("graft-kv")
      .option("catalog", centCatalog("ivf_centroids"))
      .option("asOfVersion", meta.path("centroidsVersion").asLong())
      .option("path", s"$root/centroids").load()
    val centRouted = cent.select(col("gid"), col("cid"), col("cemb"))
    // the coarse router is the cid ≤ c prefix — a pushed rowkey-range
    // scan of the same table, never a second persisted copy
    val coarse = cent.filter(col("cid") <= c)
      .select(col("cid").as("gid"), col("cemb").as("gemb"))
    val assigned = s.read.format("graft-kv")
      .option("catalog", assignedCatalog("ivf_assigned"))
      .option("asOfVersion", meta.path("assignedVersion").asLong())
      .option("path", s"$root/assigned").load()
      .select(col("vec_id"), col("embedding"), col("cell"))
    IvfIndex(coarse, centRouted, assigned, k, meta.path("n").asLong())
  }

  /** The build-once contract ([[lifecycle]]): load when fresh; build
    * when absent; append-incrementally extend a PURE APPEND within
    * `graft.ivfMaxAppendFrac` (by bytes since the original build);
    * otherwise — rewrite, or drift past the bound — refuse. */
  def ensure(s: SparkSession, sfDir: String): IvfIndex = open(s, sfDir, maintain = true)

  private def open(s: SparkSession, sfDir: String, maintain: Boolean): IvfIndex =
    lifecycle(s, indexRoot(sfDir), sfDir, maintain)(buildLocked(s, sfDir))(
      classify(s, sfDir, _))

  /** q115: the SAME adaptive IVF ANN as q53, probed through the
    * PERSISTED index — build-if-absent, then a cold load (meta +
    * fingerprint stat + KV scans) and the probe. The KV round-trip is
    * bit-lossless on float arrays, so the result is identical to q53's
    * and the same full-pipeline oracle hash-checks the entire
    * build → persist → reload → probe path. */
  val q115IvfPersisted: Q = Q(
    "q115_ivf_persisted",
    (s, d) => {
      val idx = ensure(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(Similarity.ivfOracleSql),
    doc = "IVF ANN through the persisted (graft-kv) index, cold-loaded")

  /** q137: BATCHED ANN retrieval through the persisted index — the
    * r18-verdict gap: every prior probe query retrieves for a handful
    * of broadcast exemplars, but a production pipeline retrieves for
    * millions of queries in one plan. [[Similarity.ivfProbeAll]] keeps
    * the query relation distributed (only the centroid tables are
    * broadcast; candidates shuffle once on `cell`; ranking is per-query
    * windows) — no driver loop, no query-side broadcast. 100 query
    * vectors here (5× the exemplar set, enough to hash-pin the
    * per-query fan-out) against the same persisted full-corpus index
    * as q115, replayed by the same full-pipeline oracle widened to
    * `vec_id < 100`. */
  val q137IvfProbeBatch: Q = Q(
    "q137_ivf_probe_batch",
    (s, d) => {
      val idx = ensure(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 100)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbeAll(s, idx, queries, nProbe = 4,
        nQueriesHint = Some(100L)) // vec_id < 100 on a dense 0-based id space
    },
    Some(Similarity.ivfOracleSqlFrom("", "dbl",
      queryPred = "q.vec_id < 100")),
    doc = "batched ANN retrieval: 100 queries through the persisted IVF index in one distributed plan")

  // ---- q116: append-incremental index maintenance, end to end ----

  /** Staged split-corpus root for [[q116IvfIncremental]] (cache-keyed
    * like [[indexRoot]]). Layout: `<root>/corpus/embeddings.parquet`
    * (the staged corpus the index is built over) + `<root>/_staged.json`
    * (records the SOURCE corpus fingerprint and the staging phase). */
  private[graft] def stagedRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivfinc-${cacheKey(sfDir)}")

  /** Stage the append scenario against the driver corpus, derive the
    * index incrementally, and return it with the staged corpus dir:
    *
    *  1. write the first ⌊9n/10⌋ vectors (by vec_id order) of the
    *     source embeddings as the staged corpus and BUILD the index on
    *     it (centroids are fit on, and only on, this prefix);
    *  2. append the remaining vectors as new parquet files in the same
    *     directory — a pure file-level append, exactly what a corpus
    *     ingest job produces;
    *  3. ensure(): classifies the append, assigns ONLY the delta
    *     against the frozen centroids, append-commits, advances meta.
    *
    * Staged once per source corpus through [[stageOnce]]: a partial
    * staging is wiped and redone, a completed one short-circuits to a
    * plain fresh load. */
  private[queries] def ensureIncrementalStage(
      s: SparkSession, sfDir: String): (IvfIndex, String) = {
    val root = stagedRoot(sfDir)
    val corpus = s"$root/corpus"
    stageOnce(root, corpusFingerprint(sfDir), "appended", indexRoot(corpus)) { marker =>
      val raw = Tables.load(s, sfDir, "embeddings")
      val n = raw.count()
      val n0 = n * 9 / 10
      require(n0 > 0 && n0 < n, s"corpus too small to stage an append split: n=$n")
      // the first n0 rows in vec_id order — replayed by the oracle as
      // row_number() OVER (ORDER BY vec_id) <= 9·cnt//10
      val thr = vecIdAt(raw, n0)
      raw.filter(col("vec_id") <= thr).coalesce(1)
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      build(s, corpus)
      raw.filter(col("vec_id") > thr).coalesce(1)
        .write.mode("append").parquet(s"$corpus/embeddings.parquet")
      marker.put("thresholdVecId", thr): Unit
    }
    // outside the staging lock: ensure takes the index lock itself —
    // first call after staging runs the incremental update, every call
    // thereafter is a fresh pinned load
    (ensure(s, corpus), corpus)
  }

  /** q116's oracle: the SAME full-pipeline IVF replay as q53/q115, with
    * the centroid basis restricted to the pre-append prefix (first
    * ⌊9n/10⌋ vectors by vec_id) — the frozen-centroid semantics of an
    * append-incrementally maintained index. Assignment and rescoring
    * run over the FULL corpus: appended vectors must be probe-visible. */
  private[queries] val incOracleSql: String = Similarity.ivfOracleSqlFrom(
    """
      init AS (
        SELECT vec_id, emb FROM (
          SELECT vec_id, emb,
                 row_number() OVER (ORDER BY vec_id) AS rn,
                 count(*) OVER () AS cnt
          FROM dbl) t
        WHERE rn <= cnt * 9 // 10),""", "init")

  /** q116: IVF ANN through an index that was BUILT on 90% of the corpus
    * and append-incrementally EXTENDED with the rest — the maintenance
    * path a 100 TB corpus actually exercises (re-assigning only the
    * ingested delta instead of re-paying the Θ(n^1.25) build). The
    * probe result is hash-checked against a DuckDB replay of the
    * frozen-centroid pipeline, so build → append → incremental-assign →
    * append-commit → pinned reload → probe is oracle-green end to end. */
  val q116IvfIncremental: Q = Q(
    "q116_ivf_incremental",
    (s, d) => {
      val (idx, _) = ensureIncrementalStage(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(incOracleSql),
    doc = "IVF ANN through an append-incrementally maintained persisted index")

  // ---- q133: streaming index maintenance (the q132 pattern, dense arm) ----

  private[graft] val feedCatalog =
    """{"table":{"name":"emb_feed"},"rowkey":"vec_id",
      | "columns":{"vec_id":{"cf":"rowkey","col":"vec_id","type":"long"},
      |            "embedding":{"cf":"f","col":"e","type":"array<float>"}}}""".stripMargin

  private[graft] def streamRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivfstream-${cacheKey(sfDir)}")

  /** Stage q133's scenario once per corpus: seed = the same 90% prefix
    * q116 uses (so [[incOracleSql]] pins both), the seed-built index at
    * `indexRoot(corpus)` (corpus dir holds ONLY the seed, so loads stay
    * fingerprint-fresh while the index grows through the stream), a
    * PRISTINE SNAPSHOT of that seed index at `$root/index-seed` (q133
    * restores it before every timed drain, so each drain does real
    * tail appends instead of being absorbed by a prior drain's
    * frontier), and the FEED — a versioned KV table, v1 = seed
    * snapshot, v2–v4 = the tail in three ascending vec_id slices. */
  private def ensureStreamStage(s: SparkSession, sfDir: String): String = {
    val root = streamRoot(sfDir)
    val corpus = s"$root/corpus"
    stageOnce(root, corpusFingerprint(sfDir), "", indexRoot(corpus)) { _ =>
      val raw = Tables.load(s, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val n = raw.count()
      val n0 = n * 9 / 10
      require(n0 > 0 && n0 + 3 <= n, s"corpus too small to stage a 3-batch tail: n=$n")
      val thr = vecIdAt(raw, n0)
      val cuts = Seq(vecIdAt(raw, n0 + (n - n0) / 3), vecIdAt(raw, n0 + 2 * (n - n0) / 3))
      raw.filter(col("vec_id") <= thr).coalesce(1)
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      build(s, corpus) // seed-frozen centroids, seed-only assigned table
      StreamMaint.copyDir(new File(indexRoot(corpus)),
        new File(s"$root/index-seed"))
      def commitFeed(df: DataFrame): Unit =
        df.repartitionByRange(2, col("vec_id"))
          .write.format("graft-kv")
          .option("catalog", feedCatalog).option("path", s"$root/feed")
          .mode("append").save()
      commitFeed(raw.filter(col("vec_id") <= thr))
      commitFeed(raw.filter(col("vec_id") > thr && col("vec_id") <= cuts(0)))
      commitFeed(raw.filter(col("vec_id") > cuts(0) && col("vec_id") <= cuts(1)))
      commitFeed(raw.filter(col("vec_id") > cuts(1)))
    }
    root
  }

  /** The epoch key [[maintainBatch]] tags its append with: the meta's
    * pinned `assignedVersion` the append was planned against. */
  private[graft] def maintKey(assignedVersion: Long): String = s"ivf-maint@$assignedVersion"

  /** One micro-batch of dense-index maintenance: assign the batch's
    * vectors PAST the assigned table's pushed `max(vec_id)` frontier
    * against the FROZEN centroids and append-commit, advancing the
    * meta's pinned version (the [[q116IvfIncremental]] update, per
    * micro-batch). The frontier filter is the replay discipline — a
    * re-delivered batch appends nothing. Returns the rows indexed.
    *
    * Crash window: the KV append and the meta advance are two commits,
    * and the frontier read is PINNED at the meta's version, so rows
    * appended by a batch that crashed before its advance are invisible
    * to the replay's frontier. The append therefore commits with the
    * epoch key `ivf-maint@<assignedVersion>`, recorded in the same
    * atomic manifest write as its rows. On entry, a table exactly one
    * version ahead of the meta whose manifest holds the meta version's
    * key is this method's own orphan: the meta advances over it, with
    * the orphan's row count read from the manifest. Any other
    * version-ahead table is an unknown writer (an untagged append, or a
    * compaction swap that landed before its re-pin, whose key names an
    * older version) and the index rebuilds from the corpus. A failed
    * append leaves no key, since the key lands only with the rows.
    * `crashAfterAppend` is the crash-window spec's injection point — it
    * returns right after the KV append, exactly the state a real crash
    * leaves. */
  private[graft] def maintainBatch(s: SparkSession, corpus: String,
                                   batch: DataFrame,
                                   crashAfterAppend: Boolean = false): Long =
    KvStore.withTableLock(indexRoot(corpus)) {
      val root = indexRoot(corpus)
      var meta = readIvfMeta(root)
      val assignedDir = s"$root/assigned"
      val table = KvStore.readMeta(assignedDir)
      val metaV = meta.path("assignedVersion").asLong()
      if (table.version == metaV + 1 && table.committedEpochs.contains(maintKey(metaV))) {
        val orphanRows =
          KvStore.deltaShards(assignedDir, metaV, Some(table.version)).map(_.rows).sum
        advance(s, root, meta, meta.path("n").asLong() + orphanRows, orphanRows)(_ => ())
        meta = readIvfMeta(root)
        System.err.println(
          s"[graft] IvfStore: adopted a dangling maintainBatch commit at $root " +
            s"($orphanRows rows, KV v$metaV -> v${table.version}) — a prior batch " +
            "crashed between its KV append and its meta advance; replay continues past it")
      } else if (table.version != metaV) {
        System.err.println(
          s"[graft] IvfStore: dangling index commit at $root without this store's " +
            s"${maintKey(metaV)} key (an unknown writer advanced the assigned table " +
            "past the meta); falling back to a full rebuild")
        buildLocked(s, corpus)
        meta = readIvfMeta(root)
      }
      val frontier = s.read.format("graft-kv")
        .option("catalog", assignedCatalog("ivf_assigned"))
        .option("path", assignedDir)
        .option("asOfVersion", meta.path("assignedVersion").asLong()).load()
        .agg(coalesce(max(col("vec_id")), lit(-1L))).head().getLong(0)
      val fresh = batch.filter(col("vec_id") > frontier)
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val nFresh = fresh.count()
      if (nFresh > 0)
        assignFrozen(s, root, meta, fresh, shards = 2,
          Map("epoch" -> maintKey(meta.path("assignedVersion").asLong())),
          meta.path("n").asLong() + nFresh, nFresh, crashAfterAppend)(_ => ())
      nFresh
    }

  /** q133: the persisted IVF index maintained BY a micro-batch stream —
    * the dense twin of q132's inverted-index maintenance, composing
    * q126's state-in-the-sink pattern with q116's frozen-centroid
    * append. The staged embedding feed (v1 = seed snapshot, v2–v4 =
    * ascending tail) drains with `maxVersionsPerTrigger = 1` from
    * `sinceVersion = 1`; every batch assigns only vectors past the
    * assigned table's frontier and append-commits through the same
    * meta/versioning discipline as batch maintenance (self-compaction
    * included), so the index stays loadable and version-pinned
    * MID-STREAM. The drained index ≡ q116's append-maintained index —
    * same 90% centroid basis, same assignments — so [[incOracleSql]]
    * pins the probe hash-exactly. Idempotent across invocations: a
    * second drain (fresh checkpoint, every version re-delivered — the
    * lost-checkpoint worst case) is absorbed by the frontier.
    *
    * Each invocation restores the index from the staged pristine seed
    * snapshot first (r19), so the timed drain always performs the real
    * tail appends — without the restore, every repeat after the first
    * measured frontier-absorbed no-ops, understating the maintenance
    * cost the row exists to measure. */
  val q133IvfStream: Q = Q(
    "q133_ivf_stream",
    (s, d) => {
      val root = ensureStreamStage(s, d)
      val corpus = s"$root/corpus"
      rmrf(new File(indexRoot(corpus)))
      StreamMaint.copyDir(new File(s"$root/index-seed"),
        new File(indexRoot(corpus)))
      StreamMaint.drain(s, s"$root/feed", feedCatalog, s"$root/ckpt",
        sinceVersion = Some(1)) { batch =>
        maintainBatch(s, corpus, batch): Unit
      }
      val idx = load(s, corpus)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(incOracleSql),
    doc = "streaming IVF maintenance: micro-batches append frozen-centroid assignments past the frontier; drained ≡ q116")

  def defs: Seq[Q] =
    Seq(q115IvfPersisted, q116IvfIncremental, q133IvfStream, q137IvfProbeBatch)
}
