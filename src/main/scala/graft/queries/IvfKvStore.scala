package graft.queries

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{Q, Tables}
import graft.kv.{BytesCodec, KvStore, KvTableMeta}
import graft.queries.Similarity.IvfIndex
import graft.sources.KeyRanges
import graft.util.Dirs.cacheKey
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** [[IvfStore]] for corpora that live IN THE ENGINE — a versioned
  * `graft-kv` table instead of a parquet directory. The index relations,
  * probe path and ensure/load policy ([[IvfStore.lifecycle]]) are
  * identical; what changes is the classifier, which gets strictly
  * better because the corpus carries its own manifest history:
  *
  *  - FRESHNESS is one version compare: the meta records the corpus
  *    manifest version the index covers; `corpusVersion == live` is
  *    fresh. No file listing, no mtime heuristics.
  *  - APPEND vs REWRITE is decided from the manifest, not stat calls,
  *    by TWO independent checks. (1) The rewrite watermark: row-level
  *    DML and range replaces stamp [[graft.kv.KvTableMeta.lastRewriteVersion]],
  *    so any rewrite inside (indexed, live] is a rewrite outright — file
  *    survival CANNOT catch this case, because DML-replaced genuine
  *    adds land in `retiredAdds` (the change-feed planner needs them
  *    there to agree with the archived-chain replay) and thus still
  *    "survive" in `shards ++ retiredAdds`. (2) File survival: every
  *    shard of the indexed manifest must still be present in the live
  *    manifest's `shards ++ retiredAdds` — overwrites/truncates and
  *    table replacement drop files; appends and retain-mode
  *    compactions keep them. Re-compacting an already-merged shard
  *    also drops it (merged outputs are not genuine adds), which this
  *    check conservatively reads as a rewrite — a patch or a refusal,
  *    never a wrong incremental.
  *  - The DELTA is enumerated by the engine itself: a
  *    `sinceVersion`/`asOfVersion` incremental read plans exactly the
  *    shards the window added from the manifest-resident add lineage
  *    (sound under compaction), so the update reads delta rows and
  *    nothing else — the composition the add-lineage work exists for.
  *  - A REWRITE window is patchable by its touched key region
  *    ([[dmlRegion]]) while the indexed manifest is still retained.
  *
  * The drift bound is row-exact here (`appendedRows / n` vs
  * `graft.ivfMaxAppendFrac`) because the manifest records row counts —
  * no byte proxy needed. The append-only rowkey contract carries over:
  * re-appending an EXISTING vec_id is a logical update the file-level
  * lineage cannot see.
  */
object IvfKvStore {

  /** Catalog of a KV-resident embeddings corpus (vec_id, embedding). */
  private[graft] val corpusCatalog: String =
    """{"table":{"name":"ivf_corpus"},"rowkey":"vec_id",
      | "columns":{"vec_id":{"cf":"rowkey","col":"vec_id","type":"long"},
      |            "embedding":{"cf":"i","col":"e","type":"array<float>"}}}""".stripMargin

  private[graft] def indexRoot(corpusDir: String): String =
    KvStore.cacheDir(s"ivfkv-${cacheKey(corpusDir)}")

  private def readCorpus(s: SparkSession, corpusDir: String,
                         asOf: Long, since: Option[Long]): DataFrame = {
    var r = s.read.format("graft-kv")
      .option("catalog", corpusCatalog)
      .option("path", corpusDir)
      .option("asOfVersion", asOf)
    since.foreach(v => r = r.option("sinceVersion", v))
    r.load().select(col("vec_id"), col("embedding"))
  }

  /** Append-commit (vec_id, embedding) rows to a staged KV corpus. */
  private def commit(df: DataFrame, corpusDir: String, shards: Int = 2): Unit =
    df.repartitionByRange(shards, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", corpusCatalog)
      .option("path", corpusDir)
      .mode("append").save()

  /** The KV corpus's classifier, from manifests alone: the indexed
    * version (v0) against the live one. A rewrite window becomes an
    * [[IvfStore.Rewritten]] patch when [[dmlRegion]] can derive its
    * touched region. Under frozen centroids a row's assignment depends
    * on nothing but the row and the centroids, so the correct post-DML
    * state of the assigned table over that region is simply the
    * frozen-centroid assignment of the region's LIVE rows — unchanged
    * rows re-derive their identical cells, updated rows get their new
    * cells, deleted rows are absent, added rows appear. */
  private def classify(s: SparkSession, corpusDir: String,
                       meta: JsonNode): IvfStore.Movement = {
    val v0 = meta.path("corpusVersion").asLong()
    val live = KvStore.readMeta(corpusDir)
    if (live.version == v0) return IvfStore.Fresh
    val window = s"the index covers corpus manifest v$v0, the live table is " +
      s"v${live.version}, and the window"
    val stamp = (node: ObjectNode) => node.put("corpusVersion", live.version): Unit
    def rewritten(reason: String): IvfStore.Movement = {
      val what = s"$window is NOT a pure append: $reason"
      dmlRegion(corpusDir, v0, live).fold[IvfStore.Movement](IvfStore.Stale(what)) {
        case (ranges, regionRows, total) =>
          val pred = regionPredicate(ranges)
          def region(asOf: Long) = readCorpus(s, corpusDir, asOf, since = None).filter(pred)
          // the drift counts the region's live rows the frozen centroids
          // never saw (changed or added), diffed against the region
          // pinned at v0 — cost ∝ region. Vacuumed v0 history (manifest
          // archive or shard files — both surface as the KV layer's
          // "unavailable" IllegalArgumentException at planning) degrades
          // to the conservative region row count; anything else (schema
          // error, task failure) is a real bug and must propagate.
          def unseen(): Long =
            try region(live.version).join(region(v0), Seq("vec_id", "embedding"),
              "left_anti").count()
            catch {
              case e: IllegalArgumentException if e.getMessage != null &&
                  e.getMessage.contains("unavailable") =>
                System.err.println(
                  s"[graft] IvfKvStore: pinned v$v0 region read unavailable " +
                    s"(${e.getMessage}); using the conservative drift bound " +
                    s"of $regionRows region rows")
                regionRows
            }
          // region bytes ≈ the region's row share of the live corpus bytes
          IvfStore.Rewritten(what, ranges, regionRows, total,
            kvShardBytes(corpusDir, live.shards) * regionRows / math.max(1L, total),
            () => region(live.version), () => unseen(), stamp)
      }
    }
    if (live.version < v0)
      return IvfStore.Stale(
        s"$window is NOT a pure append: the corpus manifest version moved BACKWARDS " +
          "(table replaced?)")
    // Rewrite watermark FIRST: file survival alone cannot catch a
    // row-level DML — the replaced genuine adds land in `retiredAdds`
    // (the change-feed planner needs them there), so the old shard set
    // still "survives" in shards ++ retiredAdds even though logical
    // content changed. The manifest's lastRewriteVersion is the exact
    // signal: any rewrite committed inside (v0, live] means indexed
    // rows may have changed.
    if (live.lastRewriteVersion > v0)
      return rewritten(s"a row-level rewrite (DML / range replace) committed at " +
        s"version ${live.lastRewriteVersion} inside the window")
    val old =
      try KvStore.readMetaAsOf(corpusDir, Some(v0))
      catch {
        case e: IllegalArgumentException =>
          return IvfStore.Stale(s"$window is NOT a pure append: indexed manifest " +
            s"v$v0 is no longer retained (${e.getMessage})")
      }
    val liveFiles = (live.shards ++ live.retiredAdds).map(_.file).toSet
    val gone = old.shards.filterNot(sh => liveFiles(sh.file))
    if (gone.nonEmpty)
      return rewritten(s"${gone.length} indexed shard(s) were replaced, not appended " +
        s"past (e.g. ${gone.head.file}) — a DML rewrite, overwrite, truncate, or " +
        "re-compaction of merged shards")
    // row-exact drift from the manifests: rows added since the centroids
    // were fit, over the corpus after the append (no data scan — shard
    // row counts come from the lineage-enumerated window)
    val delta = KvStore.deltaShards(corpusDir, v0, Some(live.version))
    val deltaRows = delta.map(_.rows).sum
    IvfStore.Appended(s"$window is a PURE APPEND",
      drift = (meta.path("appendedRows").asLong() + deltaRows).toDouble /
        math.max(1L, meta.path("n").asLong() + deltaRows),
      // delta bytes from the same lineage-planned shard set the read uses
      bytes = kvShardBytes(corpusDir, delta),
      // the engine enumerates the delta: an incremental read of exactly
      // the window (v0, live], planned from the add lineage — sound under
      // retain-mode compaction, loud (never partial) under vacuum
      rows = () => readCorpus(s, corpusDir, asOf = live.version, since = Some(v0)),
      stamp = stamp)
  }

  def build(s: SparkSession, corpusDir: String): IvfIndex =
    KvStore.withTableLock(indexRoot(corpusDir)) { buildLocked(s, corpusDir) }

  /** Live corpus bytes straight from the manifest's shard listing — the
    * write-sizing estimate ([[IvfStore.indexShards]]) without any scan. */
  private def kvShardBytes(dir: String, shards: Seq[graft.kv.KvShardMeta]): Long =
    shards.map(sh => new File(s"$dir/${sh.file}").length()).sum

  private def buildLocked(s: SparkSession, corpusDir: String): IvfIndex = {
    val liveMeta = KvStore.readMeta(corpusDir)
    val cur = liveMeta.version
    val idx = Similarity.ivfIndexFrom(s, readCorpus(s, corpusDir, cur, None))
    IvfStore.writeIndex(s, indexRoot(corpusDir), corpusDir, idx,
      kvShardBytes(corpusDir, liveMeta.shards), recordBaseBytes = false) {
      _.put("corpusVersion", cur): Unit
    }
  }

  /** Read-only pinned load; refuses any corpus movement, naming the
    * classification. */
  def load(s: SparkSession, corpusDir: String): IvfIndex =
    open(s, corpusDir, maintain = false)

  /** [[IvfStore.lifecycle]] over the manifest classifier: load when
    * fresh; build when absent; append-incrementally extend a pure-append
    * window within `graft.ivfMaxAppendFrac` (by rows since the original
    * build — exact here, the manifest counts rows); PATCH a rewrite
    * window whose touched region stays within `graft.ivfMaxDmlFrac`
    * (re-assigning only the region against the frozen centroids);
    * otherwise refuse. */
  def ensure(s: SparkSession, corpusDir: String): IvfIndex =
    open(s, corpusDir, maintain = true)

  private def open(s: SparkSession, corpusDir: String, maintain: Boolean): IvfIndex =
    IvfStore.lifecycle(s, indexRoot(corpusDir), s"KV corpus $corpusDir", maintain)(
      buildLocked(s, corpusDir))(classify(s, corpusDir, _))

  /** The TOUCHED KEY REGION of a rewrite window (v0, live]: the union
    * of key ranges of every shard the window removed or created. Any
    * row the window deleted, updated or added has its key inside this
    * region (rows of retained shards are untouched — the KV write
    * contract forbids same-key re-appends, so no live row outside a
    * new file can shadow an old one), and the region is computed from
    * manifests alone, no data scan. Returns the region with the LIVE
    * row counts (region rows to re-assign, total corpus rows); None
    * when v0's manifest is unavailable (history vacuumed / version
    * moved backwards / nothing actually changed) — only a rebuild
    * covers the window then. */
  private def dmlRegion(corpusDir: String, v0: Long, live: KvTableMeta)
      : Option[(Seq[KeyRanges.Range], Long, Long)] = {
    if (live.version <= v0) return None
    val old =
      try KvStore.readMetaAsOf(corpusDir, Some(v0))
      catch { case _: IllegalArgumentException => return None }
    val oldFiles = old.shards.map(_.file).toSet
    val liveFiles = live.shards.map(_.file).toSet
    val touched = old.shards.filterNot(s => liveFiles(s.file)) ++
      live.shards.filterNot(s => oldFiles(s.file))
    if (touched.isEmpty) return None
    val ranges = KeyRanges.normalize(touched.map(s =>
      (Some(s.minKey): KeyRanges.Bound, Some(s.maxKey): KeyRanges.Bound)))
    val regionRows = live.shards
      .filter(s => KeyRanges.intersectsShard(ranges, s.minKey, s.maxKey))
      .map(_.rows).sum
    Some((ranges, regionRows, live.shards.map(_.rows).sum))
  }

  /** The region as a pushable `vec_id` predicate — multi-range rowkey
    * planning prunes the scan to exactly the touched shards. */
  private def regionPredicate(ranges: Seq[KeyRanges.Range]): Column =
    ranges.map {
      case (Some(lo), Some(hi)) =>
        col("vec_id").between(
          BytesCodec.decodeKey(LongType, lo).asInstanceOf[Long],
          BytesCodec.decodeKey(LongType, hi).asInstanceOf[Long])
      case r => throw new IllegalStateException(s"unbounded region range $r")
    }.reduce(_ || _)

  // ---- q117: the whole composition, oracle-checked ----

  private[graft] def stagedRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivfkvinc-${cacheKey(sfDir)}")

  /** Stage the driver corpus as a VERSIONED KV TABLE and exercise the
    * manifest-native maintenance path: commit the first ⌊9n/10⌋ vectors
    * (v1), build, append-commit the rest (v2), ensure() — which
    * classifies the manifest window, enumerates the delta via the
    * lineage-planned incremental read, and extends the index. Same
    * idempotence contract as [[IvfStore.ensureIncrementalStage]]. */
  private[queries] def ensureIncrementalStageKv(
      s: SparkSession, sfDir: String): IvfIndex = {
    val root = stagedRoot(sfDir)
    val corpus = s"$root/corpus"
    IvfStore.stageOnce(root, IvfStore.corpusFingerprint(sfDir), "appended",
        indexRoot(corpus)) { marker =>
      val raw = Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = raw.count()
      val n0 = n * 9 / 10
      require(n0 > 0 && n0 < n, s"corpus too small to stage an append split: n=$n")
      val thr = IvfStore.vecIdAt(raw, n0)
      commit(raw.filter(col("vec_id") <= thr), corpus) // v1
      build(s, corpus)
      commit(raw.filter(col("vec_id") > thr), corpus) // v2 — the append window
      marker.put("thresholdVecId", thr): Unit
    }
    ensure(s, corpus)
  }

  /** q117: q116's frozen-centroid semantics with the corpus LIVING IN
    * THE ENGINE — the delta is not a file listing but a lineage-planned
    * incremental read of the manifest window, i.e. the add-lineage/CDC
    * machinery maintaining the ANN index. The KV float round-trip is
    * lossless, so the result is bit-identical to q116's and the SAME
    * DuckDB oracle (centroid basis = pre-append 90% prefix) hash-checks
    * commit → build → append-commit → lineage-delta assign → probe. */
  val q117IvfKvIncremental: Q = Q(
    "q117_ivf_kv_incremental",
    (s, d) => {
      val idx = ensureIncrementalStageKv(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(IvfStore.incOracleSql),
    doc = "IVF ANN maintained append-incrementally over a versioned graft-kv corpus")

  // ---- q118: DML-incremental maintenance, oracle-checked ----

  private[graft] def dmlStagedRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivfkvdml-${cacheKey(sfDir)}")

  /** Stage the DML scenario: commit the WHOLE driver corpus as a KV
    * table (v1, 8 range shards), build the index on it, then issue one
    * `replaceKeyRanges` DML over the middle-quintiles region
    * (positional vec_id thresholds th1 = P40, th2 = P60, replayed by
    * the oracle as row_number bounds): rows with `vec_id % 7 = 3` are
    * DELETED, rows with `vec_id % 7 = 5` get their embedding scaled by
    * 2 (exact in float AND in the oracle's double replay, since ×2
    * only bumps the exponent), everything else in the region survives
    * unchanged. ensure() then classifies the rewrite via the
    * watermark, derives the touched region from the two manifests, and
    * patches the index by re-assigning the region against the frozen
    * centroids — the full DML-incremental path under one oracle.
    * Same idempotence/crash contract as the q117 staging. */
  private[queries] def ensureDmlStageKv(s: SparkSession, sfDir: String): IvfIndex = {
    val root = dmlStagedRoot(sfDir)
    val corpus = s"$root/corpus"
    IvfStore.stageOnce(root, IvfStore.corpusFingerprint(sfDir), "dmled",
        indexRoot(corpus)) { marker =>
      val raw = Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = raw.count()
      require(n >= 40, s"corpus too small to stage a DML region: n=$n")
      commit(raw, corpus, shards = 8)
      build(s, corpus)
      // positional thresholds, replayed by the oracle as row_number bounds
      val th1 = IvfStore.vecIdAt(raw, n * 4 / 10)
      val th2 = IvfStore.vecIdAt(raw, n * 6 / 10)
      val survivors = raw
        .filter(col("vec_id") > th1 && col("vec_id") <= th2 &&
          col("vec_id") % 7 =!= 3)
        .withColumn("embedding",
          when(col("vec_id") % 7 === 5,
            transform(col("embedding"), x => x * lit(2.0f)))
            .otherwise(col("embedding")))
      survivors.repartitionByRange(2, col("vec_id"))
        .write.format("graft-kv")
        .option("catalog", corpusCatalog)
        .option("path", corpus)
        .option("replaceKeyRanges",
          KeyRanges.serializeTyped(LongType, Seq((th1 + 1, th2))))
        .mode("overwrite").save()
      marker.put("th1", th1)
      marker.put("th2", th2): Unit
    }
    ensure(s, corpus)
  }

  /** q118's oracle: the frozen-centroid IVF replay with centroids fit
    * on the FULL pre-DML corpus (`dbl`) and assignment/probing/
    * rescoring over the post-DML state (`cur`): middle-quintile rows
    * with vec_id % 7 = 3 deleted, % 7 = 5 scaled ×2 (exact in both
    * engines' arithmetic), everything else untouched. */
  private[queries] val dmlOracleSql: String = Similarity.ivfOracleSqlFrom(
    """
      th AS (
        SELECT max(CASE WHEN rn <= cnt * 4 // 10 THEN vec_id END) AS th1,
               max(CASE WHEN rn <= cnt * 6 // 10 THEN vec_id END) AS th2
        FROM (SELECT vec_id,
                     row_number() OVER (ORDER BY vec_id) AS rn,
                     count(*) OVER () AS cnt
              FROM dbl) t),
      cur AS (
        SELECT vec_id,
               CASE WHEN vec_id > (SELECT th1 FROM th)
                     AND vec_id <= (SELECT th2 FROM th)
                     AND vec_id % 7 = 5
                    THEN list_transform(emb, x -> x * 2) ELSE emb END AS emb
        FROM dbl
        WHERE NOT (vec_id > (SELECT th1 FROM th)
                   AND vec_id <= (SELECT th2 FROM th)
                   AND vec_id % 7 = 3)),""", "dbl", "cur")

  /** q118: IVF ANN through an index BUILT on the full corpus and then
    * DML-INCREMENTALLY PATCHED after a replaceKeyRanges rewrite
    * (deletes + in-place updates) — the maintenance path a mutable
    * 100 TB corpus actually needs: the patch re-assigns only the
    * touched region against the frozen centroids instead of re-paying
    * the build. Deleted vectors must vanish from candidates, updated
    * vectors must rank under their NEW embeddings, untouched rows keep
    * bit-identical assignments — all pinned by the DuckDB replay. */
  val q118IvfKvDml: Q = Q(
    "q118_ivf_dml_incremental",
    (s, d) => {
      val idx = ensureDmlStageKv(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(dmlOracleSql),
    doc = "IVF ANN patched DML-incrementally after deletes + updates on the KV corpus")

  // ---- q119: index-table self-maintenance, oracle-checked ----

  private[graft] def selfMaintStagedRoot(sfDir: String): String =
    KvStore.cacheDir(s"ivfkvsm-${cacheKey(sfDir)}")

  /** Stage the self-maintenance scenario: build on the 90% prefix (same
    * split as q116/q117, so the SAME frozen-centroid oracle applies —
    * neither HOW MANY commits deliver the delta nor whether the index
    * table compacted itself between them can change a single
    * assignment), then land the remaining 10% as THREE separate append
    * commits, running a maintenance cycle after each under a low
    * `graft.ivfCompactShards` with grace-0 vacuum — every cycle
    * increments, self-compacts the fragmented assigned table, re-pins,
    * and reclaims the superseded generation. The staged invariant
    * (bounded live shard count) is asserted here; the RESULT invariant
    * (bit-identical probes) is what the DuckDB oracle hash-checks. */
  private[queries] def ensureSelfMaintStageKv(
      s: SparkSession, sfDir: String): IvfIndex = {
    val root = selfMaintStagedRoot(sfDir)
    val corpus = s"$root/corpus"
    IvfStore.stageOnce(root, IvfStore.corpusFingerprint(sfDir), "maintained",
        indexRoot(corpus)) { _ =>
      val raw = Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = raw.count()
      val n0 = n * 9 / 10
      require(n0 > 0 && n0 + 3 <= n,
        s"corpus too small to stage a 3-cycle append split: n=$n")
      val cuts = Seq(n0, n0 + (n - n0) / 3, n0 + 2 * (n - n0) / 3)
        .map(IvfStore.vecIdAt(raw, _))
      commit(raw.filter(col("vec_id") <= cuts(0)), corpus) // v1: the build basis
      build(s, corpus)
      // the caller's own values come back afterwards, not the defaults
      StreamMaint.withConfs(s,
        "graft.ivfCompactShards" -> "4", "graft.ivfVacuumGraceMs" -> "0") {
        commit(raw.filter(col("vec_id") > cuts(0) && col("vec_id") <= cuts(1)), corpus)
        ensure(s, corpus) // cycle 1: increment + self-compact + vacuum
        commit(raw.filter(col("vec_id") > cuts(1) && col("vec_id") <= cuts(2)), corpus)
        ensure(s, corpus) // cycle 2
        commit(raw.filter(col("vec_id") > cuts(2)), corpus)
        ensure(s, corpus) // cycle 3
      }
      val liveShards =
        KvStore.readMeta(s"${indexRoot(corpus)}/assigned").shards.length
      require(liveShards <= 4,
        s"self-maintenance left $liveShards live shards after 3 cycles " +
          "(expected the compacted bound)")
    }
    ensure(s, corpus)
  }

  /** q119: IVF ANN through an index extended by THREE maintenance
    * cycles with index-table SELF-COMPACTION (+ grace-0 vacuum)
    * between them — the long-lived-index shape: repeated increments
    * fragment the assigned table, the maintenance step merges it back
    * and re-pins, and none of that may change a single assignment.
    * Same DuckDB oracle as q116/q117 (centroid basis = the 90%
    * prefix): compaction is row-preserving, so the replay is
    * identical whether the delta arrived in one commit or three with
    * compactions between. */
  val q119IvfSelfMaintain: Q = Q(
    "q119_ivf_self_maintain",
    (s, d) => {
      val idx = ensureSelfMaintStageKv(s, d)
      val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(s, idx, queries, nProbe = 4)
    },
    Some(IvfStore.incOracleSql),
    doc = "IVF ANN through 3 maintenance cycles with index-table self-compaction between them")

  def defs: Seq[Q] = Seq(q117IvfKvIncremental, q118IvfKvDml, q119IvfSelfMaintain)
}
