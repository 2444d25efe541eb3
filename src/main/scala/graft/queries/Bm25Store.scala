package graft.queries

import java.io.File

import graft.{Q, Tables}
import graft.util.Dirs.{cacheKey, rmrf, writeAtomic}
import graft.queries.StreamMaint.tableFrontier
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persisted inverted index for BM25 — the sparse-retrieval mirror of
  * [[IvfStore]]'s dense-index story, and the workload the reference's
  * own domain (sorted-rowkey tables) is literally built for: postings
  * live in a versioned graft-kv table keyed `token#<doc_id padded to
  * 12>`, so "fetch the postings of these query terms" is a handful of
  * ROWKEY PREFIX SEEKS (zone-map + range-pruned, q97's machinery) —
  * the classic HBase schema-design idiom (reference
  * `HbaseTableCatalog.scala:49-78` rowkey composition), re-expressed
  * on our engine. Scoring then runs over |terms' postings| rows, never
  * the corpus; doc-length normalization joins a second KV table keyed
  * by doc_id whose corpus stats (N, Σdl, docs-with-tokens) come from
  * PUSHED per-shard aggregates (q95's machinery) — three scalars, no
  * driver-side corpus pass.
  *
  * Maintenance is append-incremental like the IVF family: the indexed
  * frontier is `max(doc_id)` pushed down to the dl table's shard
  * stats; only documents PAST the frontier are tokenized and their
  * postings/dl rows appended (cost ∝ delta, never corpus). Because
  * BM25's df/N/avgdl are algebraic over postings/dl rows, an appended
  * index is EXACTLY the index a full rebuild would produce — q127
  * (build → probe) and q128 (build 90% → append 10% → probe) both
  * hash-check against q121's full-corpus oracle.
  */
object Bm25Store {

  private[queries] val postingsCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "bm25_postings"},
      |  "rowkey": "pk",
      |  "columns": {
      |    "pk": {"cf": "rowkey", "col": "pk", "type": "string"},
      |    "token": {"cf": "p", "col": "t", "type": "string"},
      |    "doc_id": {"cf": "p", "col": "d", "type": "long"},
      |    "tf": {"cf": "p", "col": "f", "type": "long"}
      |  }
      |}""".stripMargin

  private[queries] val dlCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "bm25_dl"},
      |  "rowkey": "doc_id",
      |  "columns": {
      |    "doc_id": {"cf": "rowkey", "col": "doc_id", "type": "long"},
      |    "dl": {"cf": "l", "col": "dl", "type": "long"}
      |  }
      |}""".stripMargin

  /** The shared tokenize pass both index tables derive from — split out
    * so [[maintainBatch]] can cache it ONCE per micro-batch and feed
    * both table writes from the (doc_id, tokens) rows. */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.Text.tokens(col("text")).as("t"))

  private[graft] def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("t")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .select(
        concat(col("token"), lit("#"),
          lpad(col("doc_id").cast("string"), 12, "0")).as("pk"),
        col("token"), col("doc_id"), col("tf"))

  private[graft] def dlOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))

  /** Postings/dl rows for the given documents slice. dl keeps a row for
    * EVERY doc (dl = 0 for token-less ones) so the dl table's row count
    * IS the corpus size N; avgdl excludes the zero rows, matching
    * q121's tf-derived doc lengths. */
  private[graft] def indexRows(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = tokensOf(docs)
    (postingsOf(toks), dlOf(toks))
  }

  private[graft] def writePostings(s: SparkSession, p: DataFrame, dir: String,
                            mode: String, shards: Int): Unit = {
    // a rebuild invalidates any coverage claim from a prior generation
    // (a stale stamp ahead of the fresh table would silently skip docs)
    if (mode == "overwrite") stampFile(dir).delete(): Unit
    p.repartitionByRange(shards, col("pk"))
      .write.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", dir)
      .mode(mode).save()
  }

  private[graft] def writeDl(s: SparkSession, dl: DataFrame, dir: String,
                      mode: String, shards: Int = 2): Unit =
    dl.repartitionByRange(shards, col("doc_id"))
      .write.format("graft-kv")
      .option("catalog", dlCatalogJson).option("path", dir)
      .mode(mode).save()

  /** Shard count for a DELTA append, sized from the delta itself
    * (r21, guide §6): the fixed per-append constants made every
    * micro-batch pay a range-sampling pass plus N write tasks and leave
    * N sliver shards per batch, regardless of whether the delta was 100
    * rows or 100 GB. Bytes-derived via [[IvfStore.indexShards]] with a
    * floor of 1 — a typical micro-batch lands ONE range-tight shard
    * (repartitionByRange(1, …) skips the sampling job entirely), while
    * a bulk backfill still fans out by its real volume. Fewer sliver
    * shards also means less self-compaction churn per cycle. */
  private def deltaShards(s: SparkSession, estBytes: Long): Int =
    IvfStore.indexShards(s, estBytes, 1)

  /** Build the persisted index over `docs` if absent. Shard count for
    * the postings table is bytes-derived ([[IvfStore.indexShards]],
    * estimated from the corpus' character volume — postings carry
    * roughly half the text bytes as (token, ids, counts)). */
  private[graft] def buildIfAbsent(s: SparkSession, d: String, tag: String,
                            docs: => DataFrame): (String, String) = {
    val pDir = graft.kv.KvStore.cacheDir(s"bm25-$tag-postings-${cacheKey(d)}")
    val lDir = graft.kv.KvStore.cacheDir(s"bm25-$tag-dl-${cacheKey(d)}")
    if (!StreamMaint.committed(pDir, lDir)) {
      val dd = docs
      val chars = dd.agg(sum(col("n_chars"))).head().getLong(0)
      val (p, dl) = indexRows(dd)
      writePostings(s, p, pDir, "overwrite",
        IvfStore.indexShards(s, chars / 2, 4))
      writeDl(s, dl, lDir, "overwrite")
    }
    (pDir, lDir)
  }

  /** Append-incremental maintenance: index every document past the
    * tables' pushed `max(doc_id)` frontiers ([[maintainBatch]] with the
    * whole corpus as the batch). A fresh index is a no-op. */
  private[graft] def ensureIndexed(s: SparkSession, d: String,
                                     pDir: String, lDir: String): Long =
    maintainBatch(s, Tables.documents(s, d), pDir, lDir)

  /** Postings COVERAGE stamp (r20). The postings table's own
    * `max(doc_id)` cannot express "this doc was tokenized and
    * contributed NO rows": a delta whose tail documents are token-less
    * leaves the postings max short of the dl frontier forever, and
    * every later batch would then re-admit that tail and skip the
    * champion-sidecar merge (which needs equal frontiers on entry)
    * even though no crash occurred. The stamp
    * is a tiny sidecar next to the manifest recording the max doc_id
    * whose tokenization OUTCOME the postings table already reflects —
    * rows committed, or known token-less. It is written atomically
    * (tmp + ATOMIC_MOVE), strictly AFTER the postings commit it covers
    * (so it never claims coverage ahead of durable rows: a crash
    * before the stamp leaves the old claim, and replay re-derives the
    * missing tail from the table max), monotone, carried by
    * [[StreamMaint.copyDir]], and untouched by compaction/vacuum
    * (which only reclaim .kv shards, archived manifests and bloom
    * sidecars — `KvCompactor.vacuumAt`). */
  private def stampFile(pDir: String): File = new File(s"$pDir/_frontier.stamp")

  private def readStamp(pDir: String): Long = {
    val f = stampFile(pDir)
    if (!f.exists()) -1L
    else try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong
    catch { case _: Exception => -1L } // unreadable = no claim; table max still rules
  }

  private def writeStamp(pDir: String, v: Long): Unit =
    if (v > readStamp(pDir)) writeAtomic(stampFile(pDir), s"$v\n".getBytes("UTF-8"))

  /** The postings table's effective frontier: committed rows OR stamped
    * token-less coverage, whichever reaches further. */
  private def postingsFrontier(s: SparkSession, pDir: String): Long =
    math.max(tableFrontier(s, postingsCatalogJson, pDir), readStamp(pDir))

  /** Both effective frontiers, exposed for the steady-state-invariant
    * spec: after ANY crash-free batch — token-less tails included —
    * these must be equal (the champion-sidecar merge's entry
    * condition). */
  private[graft] def frontiers(s: SparkSession, pDir: String,
                               lDir: String): (Long, Long) =
    (postingsFrontier(s, pDir), tableFrontier(s, dlCatalogJson, lDir))

  /** The BM25 probe over the persisted tables: prefix-seek the terms'
    * postings (rowkey StartsWith ranges; the token-column equality is
    * the residual guard against a term that is itself a prefix of
    * another token containing '#'), derive df from the fetched
    * postings, corpus stats from pushed aggregates over dl, and score
    * exactly q121's formula. */
  /** The postings-side read of [[probe]], exposed for the plan spec:
    * rowkey prefix seeks per term; the token-column equality is the
    * residual guard against a term that is itself a prefix of another
    * token containing '#'. */
  private[queries] def postingsRead(s: SparkSession, pDir: String,
                                    terms: Seq[String]): DataFrame =
    s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .filter(terms.map(t => col("pk").startsWith(t + "#")).reduce(_ || _))
      .filter(col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"), col("tf"))

  /** `postingsTap` wraps the postings-side scan before any join —
    * identity in production; ProbeCompactionRaceSpec injects a gate
    * there to hold the probe's scan tasks in flight while a
    * compact+vacuum cycle races them. */
  private[graft] def probe(s: SparkSession, pDir: String, lDir: String,
                             terms: Seq[String], topK: Int = 10,
                             postingsTap: DataFrame => DataFrame = identity): DataFrame = {
    val p = postingsTap(postingsRead(s, pDir, terms))
    val dl = dlRead(s, lDir)
    val df = p.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = p
      .join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpusStats(dl)))
      .select(col("doc_id"), termScoreCol.as("term_score"))
      .groupBy(col("doc_id")).agg(sum(col("term_score")).as("score"))
    // rounded-score ranking, matching bm25Ranked: fp-tied docs order
    // identically regardless of either plan's summation order
    val w = Window.orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("rk"), col("doc_id"), round(col("score"), 6).as("bm25_r"))
      .orderBy(col("rk"))
  }

  /** Past this many exploded (q_id, token) rows the small-side
    * broadcast hints drop and Catalyst falls back to shuffle joins:
    * forcing a broadcast of the query vocabulary / df / max-score
    * relations at the "millions of queries" scale risks driver OOM
    * (ADVICE r19). Below it — every committed workload, up to 10k
    * queries × a handful of terms — the broadcasts keep the |Q|-sized
    * relations off the shuffle. */
  private[graft] val ProbeBroadcastMaxTokens = 4000000L

  /** Rank-safety margin for MaxScore pruning: a doc is pruned only when
    * its score UPPER BOUND sits this far below the per-query top-k
    * floor. The final ranking compares round(score, 6), so the margin
    * must dominate one rounding ulp (1e-6) plus cross-plan fp summation
    * noise; 1e-4 does, at the cost of keeping a vanishing sliver of
    * provably-losing candidates. */
  private val PruneMargin = 1e-4

  /** The BM25 per-(token, doc) term-score column — the one definition
    * every scoring plan ([[probe]], [[probeAllExhaustive]], the sidecar
    * build, the pruned and dense re-scores) selects, so their doubles
    * can never drift from each other: identical expression tree ->
    * identical codegen -> bitwise-identical doubles. */
  private def termScoreCol: Column =
    (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))

  /** The TOKEN-INDEPENDENT factor of the BM25 term score: ts = idf · K
    * with K = 2.2·tf / (tf + 1.2·(0.25 + 0.75·dl/avgdl)). Within one
    * token idf is constant, so ranking postings by ts ranks them by K;
    * and K obeys the DRIFT LEMMA the incremental sidecar's tail bound
    * rests on: K(a) ≤ K(a₀)·max(1, a/a₀) for every posting and any two
    * avgdl values a₀, a (the denominator tf + 0.3 + 0.9·dl/a shrinks by
    * at most the factor a/a₀ when a grows, and K is increasing in a).
    * K is ONLY used for bounds and ranking — exact scores always go
    * through [[termScoreCol]] — so its fp rounding need not match the
    * ts/idf quotient bitwise; [[PruneMargin]] dominates ulp noise by
    * design. */
  private def kCol: Column =
    (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  /** The idf factor over a literal corpus size, for bound columns. */
  private def idfCol(n: Long): Column =
    log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5))

  private def dlRead(s: SparkSession, lDir: String): DataFrame =
    s.read.format("graft-kv")
      .option("catalog", dlCatalogJson).option("path", lDir).load()

  /** Corpus stats (N, avgdl) — one pushed-aggregate-friendly pass over
    * the dl table. */
  private def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"),
        count(when(col("dl") > 0, 1)).as("npos"))
      .select(col("n"),
        (col("sdl").cast("double") / col("npos").cast("double")).as("avgdl"))

  /** Champions per token persisted in the sidecar: enough for exact
    * floors at any topK <= C (larger topK still gets VALID floors —
    * champion partial sums are lower bounds at every k — just looser
    * ones, so correctness never depends on C). */
  private[graft] val ChampC = 64

  private def md5Hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content fingerprint of one KV table: version + sorted live shard
    * files with row counts and CRCs. Pins CONTENT, not just the version
    * counter — a pristine-seed restore (StreamMaint.copyDir) rolls the
    * version sequence back, so two different states can share a version
    * number; they cannot share shard CRCs. */
  private def tableFp(dir: String): String = {
    val m = graft.kv.KvStore.readMeta(dir)
    md5Hex(m.version.toString + "|" +
      m.shards.map(sh => s"${sh.file}:${sh.rows}:${sh.crc32cHex}")
        .sorted.mkString("|"))
  }

  /** The champion sidecar's validity key: both tables' content
    * fingerprints plus the layout version ("v2" = r22's incremental
    * format carrying (tf, dl, tail_kappa, _meta.json); bumping it
    * orphans every pre-r22 sidecar so the probe can never bind stale
    * columns — orphans age out on the normal grace clock). */
  private def champFp(pDir: String, lDir: String): String =
    md5Hex(tableFp(pDir) + "|" + tableFp(lDir) + s"|C=$ChampC|v2")

  /** Corpus stats pinned inside a sidecar: the EXACT (row count, Σdl,
    * docs-with-tokens) of the dl table at the fingerprinted state —
    * integers, so an append's new stats are exact driver-side algebra
    * (meta + delta), never a re-aggregation that could drift. */
  private[graft] case class ChampMeta(n: Long, sdl: Long, npos: Long,
                                        built: String) {
    def avgdl: Double = sdl.toDouble / npos.toDouble
  }

  private def champMetaFile(dir: File): File = new File(dir, "_meta.json")

  private def writeChampMeta(dir: File, m: ChampMeta): Unit =
    writeAtomic(champMetaFile(dir),
      s"""{"n":${m.n},"sdl":${m.sdl},"npos":${m.npos},"built":"${m.built}","c":$ChampC}\n"""
        .getBytes("UTF-8"))

  private[graft] def readChampMeta(dir: String): Option[ChampMeta] = {
    val f = champMetaFile(new File(dir))
    if (!f.exists()) None
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      Some(ChampMeta(node.get("n").asLong, node.get("sdl").asLong,
        node.get("npos").asLong, node.get("built").asText))
    } catch { case _: Exception => None }
  }

  /** CHAMPION-LIST sidecar (r20): per-token impact metadata computed
    * ONCE per index state and persisted next to the postings manifest —
    * the batch analogue of impact-ordered postings (champion lists per
    * Manning et al., IR book ch.7; max-score per Turtle & Flood). One
    * parquet relation `(token, df, doc_id, term_score, rn <= ChampC)`
    * holding each token's exact top-C postings by term score; `rn = 1`
    * carries the token's max score ms(t), and its df rides every row.
    *
    * Lifecycle: the sidecar lives at `pDir/_champ/<fp>` where `fp`
    * fingerprints BOTH tables' content ([[tableFp]]) — any append,
    * compaction, DML rewrite or pristine-seed restore changes the
    * fingerprint and the next large probe rebuilds (build = one
    * postings pass for df, one postings+dl pass for scores, salted
    * two-phase exact top-C windows; written to a tmp dir and atomically
    * renamed, so concurrent builders race benignly). Stale fingerprints
    * are reclaimed on the same grace discipline as shard vacuum (1 h
    * mtime grace — a probe planned against the old sidecar finishes
    * long before). Compaction/vacuum never touch `_champ` (they reclaim
    * only .kv shards, archived manifests, bloom sidecars). */
  private[graft] def ensureChampions(s: SparkSession, pDir: String,
                                     lDir: String): String = {
    val fp = champFp(pDir, lDir)
    val root = new File(s"$pDir/_champ")
    val dir = new File(root, fp)
    if (new File(dir, "_SUCCESS").exists() && champMetaFile(dir).exists())
      return dir.toString
    root.mkdirs(): Unit
    val pm = s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .select(col("token"), col("doc_id"), col("tf"))
    val dl = dlRead(s, lDir)
    // one pushed-aggregate pass pins the EXACT integer corpus stats in
    // the sidecar meta (the incremental merge's algebra base) and feeds
    // the score columns as literals
    val stRow = dl.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sdl"),
      count(when(col("dl") > 0, 1)).as("npos")).head()
    val meta = ChampMeta(stRow.getLong(0), stRow.getLong(1), stRow.getLong(2),
      built = "full")
    val stats = s.range(1).select(lit(meta.n).as("n"),
      (lit(meta.sdl).cast("double") / lit(meta.npos).cast("double")).as("avgdl"))
    val dfRel = pm.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ts = pm.join(dfRel, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("df"), col("doc_id"), col("tf"), col("dl"),
        termScoreCol.as("term_score"), kCol.as("k"))
    // TWO-phase exact top-C: a stop-word token's postings would land in
    // ONE window partition — at cluster scale a straggler task sorting
    // the whole posting list. Phase 1 takes top-C per (token, 64-way
    // doc-hash salt), bounding per-task sort input by df/64; phase 2
    // reduces the <= 64·C survivors per token to the EXACT global top-C
    // (the global top-C is contained in the union of per-salt top-Cs).
    val wCh1 = Window.partitionBy(col("token"), col("salt"))
      .orderBy(col("term_score").desc, col("doc_id"))
    val wCh2 = Window.partitionBy(col("token"))
      .orderBy(col("term_score").desc, col("doc_id"))
    // tail_kappa: a sound cap (referenced to THIS state's avgdl) on the
    // K factor of every posting NOT kept as a champion. At build time
    // the ranking is exact, so the C-th champion's K bounds everything
    // dropped; a token with fewer than C postings drops nothing (0.0).
    // idf·tail_kappa ≤ the rn=1 term_score here, so the fresh-build ms
    // is unchanged by the bound — it exists for the merged lineage.
    val champ = ts
      .withColumn("salt", pmod(hash(col("doc_id")), lit(64)))
      .withColumn("rn1", row_number().over(wCh1)).filter(col("rn1") <= ChampC)
      .withColumn("rn", row_number().over(wCh2)).filter(col("rn") <= ChampC)
      .withColumn("tail_kappa",
        coalesce(max(when(col("rn") === ChampC, col("k")))
          .over(Window.partitionBy(col("token"))), lit(0.0)))
      .select(col("token"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("term_score"), col("rn"), col("tail_kappa"))
    val tmp = new File(root, s"tmp-${java.util.UUID.randomUUID()}")
    champ.write.mode("overwrite").parquet(tmp.toString)
    writeChampMeta(tmp, meta)
    if (!tmp.renameTo(dir)) {
      rmrf(tmp) // lost the build race — the winner's is live
      require(new File(dir, "_SUCCESS").exists(),
        s"champion sidecar build failed to land at $dir")
    }
    // grace-based reclamation of superseded fingerprints (mirrors the
    // shard-vacuum contract: a probe planned against the old sidecar
    // must finish within the grace window)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName != fp &&
        System.currentTimeMillis() - f.lastModified() > 3600000L)
      .foreach(rmrf)
    dir.toString
  }

  /** APPEND-INCREMENTAL sidecar maintenance (r22, the r20/r21 verdicts'
    * #1): before this, ANY index append invalidated the fingerprint and
    * the next large probe re-derived the whole sidecar — two full
    * corpus passes, i.e. probe-after-append cost proportional to index
    * size (a per-batch full-index pass in streaming pipelines at
    * 100 TB). [[maintainBatch]] now chains the sidecar forward at
    * append time with DELTA+SIDECAR-sized work; the probe path is
    * untouched except that ms(t) reads `greatest(champion max,
    * idf·tail_kappa)`.
    *
    * Soundness per token t, state (n₁, avgdl₁ = sdl₁/npos₁, exact by
    * integer algebra since appends never touch existing (token, doc)
    * rows — doc_ids are frontier-monotone):
    *
    *  - df is EXACT: df₁ = df₀ + df_delta (disjoint doc sets).
    *  - champion rows carry EXACT current scores: every pool row's
    *    (tf, dl) is immutable, so re-scoring under (n₁, df₁, avgdl₁)
    *    via [[termScoreCol]] is the true score → θ floors stay true
    *    lower bounds (k-th best over a subset of exactly-scored docs).
    *  - the champion list after a merge may NOT be the true top-C (the
    *    within-token K-order can flip under avgdl drift), so ms needs
    *    the TAIL BOUND: every posting ever dropped from the pool
    *    satisfies K(avgdl₁) ≤ tail_kappa. Maintenance rule
    *    κ₁ = max(κ₀ · max(1, avgdl₁/avgdl₀), K_C(avgdl₁)) — the first
    *    term re-references the old tail through the drift lemma on
    *    [[kCol]] (collapse: κ₀·max(1,a/a₀) ≤ κ₀·max(1,a₁/a₀)·max(1,a/a₁)
    *    for every a), the second covers rows dropped by THIS merge
    *    (ranked below the kept C-th). Hence
    *    ms = max(champion ts, idf(n₁, df₁)·κ₁) ≥ true max term score;
    *    looseness only weakens pruning, never results — candidates are
    *    re-scored exactly against the live postings regardless.
    *
    * The merge is skipped unless a sidecar exists for the PRE-append
    * fingerprint (q132/q135's stream stores never probe, so their
    * per-batch cost is one directory stat), and skipped unless both
    * frontiers agreed on entry: a batch replayed after a crash between
    * the two table commits leaves the next large probe to full-build
    * (crash recovery is not the path to optimize).
    * Chain-of-custody is CONTENT-keyed: fpOld is captured before the
    * batch's first write, fpNew after its last compaction, so any
    * mutation outside this batch breaks the chain instead of silently
    * merging onto the wrong base. */
  private def mergeChampions(s: SparkSession, pDir: String, lDir: String,
                             oldDir: File, meta0: ChampMeta, toks: DataFrame,
                             nDelta: Long, sdlDelta: Long,
                             nposDelta: Long): Unit = {
    val n1 = meta0.n + nDelta
    val sdl1 = meta0.sdl + sdlDelta
    val npos1 = meta0.npos + nposDelta
    if (npos1 == 0) return // no tokened doc anywhere: no postings, no champions
    val avgdl1 = sdl1.toDouble / npos1.toDouble
    val drift = if (meta0.npos == 0) 1.0
      else math.max(1.0, avgdl1 / meta0.avgdl)
    val old = s.read.parquet(oldDir.toString)
    val oldTok = old.groupBy(col("token"))
      .agg(max(col("df")).as("df0"), max(col("tail_kappa")).as("kap0"))
    val deltaPairs = toks.select(col("doc_id"),
        size(col("t")).cast("long").as("dl"), explode(col("t")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfDelta = deltaPairs.groupBy(col("token")).agg(count(lit(1)).as("dfd"))
    val tokRel = oldTok.join(dfDelta, Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("df0"), lit(0L)) + coalesce(col("dfd"), lit(0L))).as("df"),
        (coalesce(col("kap0"), lit(0.0)) * drift).as("kap_drifted"))
    val pool = old.select(col("token"), col("doc_id"), col("tf"), col("dl"))
      .unionByName(deltaPairs.select(
        col("token"), col("doc_id"), col("tf"), col("dl")))
    val scored = pool.join(tokRel, "token")
      .withColumn("n", lit(n1)).withColumn("avgdl", lit(avgdl1))
      .select(col("token"), col("df"), col("kap_drifted"), col("doc_id"),
        col("tf"), col("dl"), termScoreCol.as("term_score"), kCol.as("k"))
    // same two-phase exact top-C as the full build: a bulk append can
    // pool a stop word's delta postings into one window partition
    val wCh1 = Window.partitionBy(col("token"), col("salt"))
      .orderBy(col("term_score").desc, col("doc_id"))
    val wCh2 = Window.partitionBy(col("token"))
      .orderBy(col("term_score").desc, col("doc_id"))
    val out = scored
      .withColumn("salt", pmod(hash(col("doc_id")), lit(64)))
      .withColumn("rn1", row_number().over(wCh1)).filter(col("rn1") <= ChampC)
      .withColumn("rn", row_number().over(wCh2)).filter(col("rn") <= ChampC)
      .withColumn("tail_kappa",
        greatest(col("kap_drifted"),
          coalesce(max(when(col("rn") === ChampC, col("k")))
            .over(Window.partitionBy(col("token"))), lit(0.0))))
      .select(col("token"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("term_score"), col("rn"), col("tail_kappa"))
    val root = new File(s"$pDir/_champ")
    root.mkdirs(): Unit
    val dir = new File(root, champFp(pDir, lDir))
    if (new File(dir, "_SUCCESS").exists()) return // racing merger won
    val tmp = new File(root, s"tmp-${java.util.UUID.randomUUID()}")
    out.write.mode("overwrite").parquet(tmp.toString)
    writeChampMeta(tmp, ChampMeta(n1, sdl1, npos1, built = "merged"))
    if (!tmp.renameTo(dir)) rmrf(tmp)
  }

  /** The pre-append sidecar of this store, if one exists — the gate on
    * [[mergeChampions]]. Cheap: one directory stat, plus two manifest
    * reads only when a `_champ` root is present at all. */
  private def currentChampions(pDir: String, lDir: String): Option[(File, ChampMeta)] = {
    val root = new File(s"$pDir/_champ")
    if (!root.isDirectory) return None
    val dir = new File(root, champFp(pDir, lDir))
    if (!new File(dir, "_SUCCESS").exists()) None
    else readChampMeta(dir.toString).map(m => (dir, m))
  }

  /** `round(x, 6)` with exactly Spark's `Round` semantics (HALF_UP over
    * the decimal expansion) — the dense kernel ranks by this, and it
    * must agree bit-for-bit with the plans that rank by the SQL
    * `round(score, 6)`. */
  private def round6(x: Double): Double =
    scala.math.BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The dense kernel's work gate: past |sigs| x |docs| = 2e10 the
    * driver-side signature state is too large and [[probeAllDense]]
    * declines. */
  private val DenseBudget = 20000000000L

  /** DENSE batched scoring for the small-vocabulary regime.
    *
    * When a large query batch probes few distinct tokens, every token
    * is corpus-common and the exact answer depends on most postings —
    * no sound upper bound prunes (measured: the per-term score floors
    * keep 433M of 433M candidate pairs on a 1k-query batch over 30
    * tokens at the 100x tier). What CAN collapse is the |Q| dimension:
    *
    *  1. queries dedup to term-set SIGNATURES (sorted distinct terms —
    *     identical sets share their entire answer; [[probe]]'s isin is
    *     set-semantics too);
    *  2. each doc's term scores over the probed vocabulary become ONE
    *     dense vector (V <= `graft.bm25DenseVocabMax` doubles), built
    *     with one corpus pass;
    *  3. a `mapPartitions` kernel streams doc vectors once, maintaining
    *     a bounded top-k buffer PER SIGNATURE — pure double adds, no
    *     row materialization, no |Q|- or |sigs|-sized shuffle; each
    *     partition emits <= |sigs|·k rows and one tiny window merges
    *     them exactly (local top-k per partition is sound for global
    *     top-k since a (sig, doc) score is complete within the doc's
    *     row). mapPartitions is deliberate here: Spark has no bounded
    *     multi-group top-k aggregate, and an explode to (sig x doc)
    *     rows would materialize billions of rows just to throw them
    *     away — this is the one genuinely per-partition-imperative
    *     operator in the BM25 family.
    *
    * Ranking is bit-identical to [[probeAllExhaustive]]: scores are the
    * same [[termScoreCol]] doubles summed per (sig, doc), compared by
    * (round(score, 6) desc, doc_id asc) — [[round6]] replicates the SQL
    * round — and zero-score docs (no shared token) are excluded exactly
    * as the join-based plans exclude them. Work is |sigs| x |docs with
    * any probed token|; the [[DenseBudget]] gate
    * returns None past it and the caller falls back to MaxScore. */
  private def probeAllDense(s: SparkSession, pDir: String, lDir: String,
                            queries: DataFrame, qt: DataFrame,
                            vocab: DataFrame, topK: Int,
                            hint: DataFrame => DataFrame): Option[DataFrame] = {
    import s.implicits._
    val qsig = queries.select(col("q_id"),
      array_sort(array_distinct(col("terms"))).as("sig"))
    val sigRel = qsig.select(col("sig")).distinct()
      .withColumn("sig_id",
        (row_number().over(Window.orderBy(col("sig"))) - 1).cast("int"))
    val vocabIdx = vocab.withColumn("tok_idx",
      (row_number().over(Window.orderBy(col("token"))) - 1).cast("int"))
    val nSigs = sigRel.count()
    val dl = dlRead(s, lDir)
    val nDocs = dl.count() // pushed aggregate — manifest-cheap
    if (nSigs * nDocs > DenseBudget) return None
    // signature -> ascending token indexes, driver-side (bounded by the
    // budget gate; ascending order makes the kernel's sum deterministic)
    val sigIdx: Array[Array[Int]] = {
      val arr = Array.fill(nSigs.toInt)(Array.empty[Int])
      sigRel.select(col("sig_id"), explode(col("sig")).as("token"))
        .join(vocabIdx, "token")
        .groupBy(col("sig_id"))
        .agg(collect_list(col("tok_idx")).as("idxs"))
        .collect()
        .foreach(r => arr(r.getInt(0)) = r.getSeq[Int](1).toArray.sorted)
      arr
    }
    val bSig = s.sparkContext.broadcast(sigIdx)
    val stats = corpusStats(dl)
    val pm = s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .select(col("token"), col("doc_id"), col("tf"))
      .join(hint(vocab), Seq("token"), "left_semi")
    val dfR = pm.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ts = pm.join(hint(dfR), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"), termScoreCol.as("ts"))
      .join(hint(vocabIdx), "token")
      .select(col("doc_id"), col("tok_idx"), col("ts"))
    val v = vocabIdx.count().toInt
    val docVec = ts.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("tok_idx"), col("ts")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(v - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("vec"))
      .as[(Long, Seq[Double])]
    val (k, nS) = (topK, nSigs.toInt)
    val local = docVec.mapPartitions { it =>
      val sigs = bSig.value
      // head of each buffer = the WORST kept row under the ranking
      // (smaller round-6 score is worse; ties: larger doc_id is worse)
      val worstFirst =
        Ordering.by[(Double, Long), (Double, Long)] { case (r6, d) => (-r6, d) }
      val heaps = Array.fill(nS)(
        new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
      it.foreach { case (doc, vec) =>
        var i = 0
        while (i < nS) {
          val idxs = sigs(i)
          var sum = 0.0
          var j = 0
          while (j < idxs.length) { sum += vec(idxs(j)); j += 1 }
          if (sum > 0.0) {
            val r6 = round6(sum)
            val h = heaps(i)
            if (h.size < k) h.enqueue((r6, doc))
            else {
              val (wr, wd) = h.head
              if (r6 > wr || (r6 == wr && doc < wd)) {
                h.dequeue(): Unit; h.enqueue((r6, doc))
              }
            }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map { case (r6, doc) => (i, r6, doc) }
      }
    }.toDF("sig_id", "bm25_r", "doc_id")
    // exact global merge of the per-partition survivors (tiny relation)
    val wS = Window.partitionBy(col("sig_id"))
      .orderBy(col("bm25_r").desc, col("doc_id"))
    val topPerSig = local.withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= k)
    Some(qsig.join(hint(sigRel), "sig")
      .join(hint(topPerSig), "sig_id")
      .select(col("q_id"), col("rk"), col("doc_id"), col("bm25_r"))
      .orderBy(col("q_id"), col("rk")))
  }

  /** BATCHED retrieval over the persisted index — [[probe]] for a query
    * RELATION `(q_id, terms array<string>)` instead of one literal term
    * set. The single-probe prefix-seek shape cannot scale to millions
    * of queries (it plans one rowkey range per term, driver-side); the
    * batched shape is pure joins, no collect, no driver loop.
    *
    * r20: a three-regime dispatch, all rank-safe bit-identical
    * (ProbeAllSpec forces each path against the exhaustive baseline):
    *
    *  - SMALL batches (<= `graft.bm25ProbeExhaustiveMaxTokens` exploded
    *    query-terms, default 512): [[probeAllExhaustive]] — below the
    *    corpus-pass fixed cost the unpruned fan-out is cheaper;
    *  - SMALL VOCABULARY (<= `graft.bm25DenseVocabMax` distinct probed
    *    tokens): [[probeAllDense]] — the common-terms regime where no
    *    sound upper bound prunes; signature-dedup + dense per-doc
    *    vectors + a bounded top-k kernel;
    *  - otherwise: MaxScore through the persisted champion sidecar
    *    ([[ensureChampions]]), below — the selective-vocabulary regime
    *    where floors bite.
    *
    * The r19 exhaustive shape joined every query to EVERY posting of
    * each of its terms — stop-word-class terms fanned out to the whole
    * corpus per query (96.75 s / 1k queries at the 100x tier); an
    * inline MaxScore cut without the sidecar recomputed the
    * corpus-sized term-score relation in three plan branches and was
    * slower still. With champions persisted, the MaxScore probe touches
    * the corpus exactly twice, both passes semi-join-pruned to the
    * probed vocabulary:
    *
    *  1. champions x queries (champion-sized joins) give each query a
    *     top-k FLOOR theta_q — a true lower bound, since champion
    *     partial sums understate full scores;
    *  2. the MaxScore ESSENTIAL split (ascending-ms prefix sums vs the
    *     floor) takes stop words riding along with a selective term out
    *     of the fan-out, and per-(query, essential token) SCORE FLOORS
    *     on postings (block-max style: a doc reaches theta_q through t
    *     only if its term score clears theta_q - margin - the other
    *     terms' max-score sum) bound the all-stop-word query the split
    *     alone cannot — its floor sits just below ms(t), admitting only
    *     champion-depth postings. Candidate generation (corpus pass 1)
    *     computes term scores inline over the floor-surviving tokens'
    *     postings, prefiltered by the per-token minimum floor BEFORE
    *     any query fan-out, then exact-filtered per (q, t);
    *  3. candidates re-score EXACTLY over all their query terms against
    *     the postings (corpus pass 2), dl, the sidecar's df and the
    *     same stats — [[termScoreCol]] — so survivors carry precisely
    *     the exhaustive plan's scores: pruning changes cost, never
    *     values.
    *
    * Ranking matches [[probe]]: rounded score desc, doc_id tiebreak —
    * per query. Duplicate terms inside one query collapse (set
    * semantics, as [[probe]]'s isin). A query whose champion floor does
    * not exist (fewer than topK champion docs) prunes nothing (theta =
    * -inf => every term essential => the exhaustive plan for that
    * query).
    *
    * Small batches (<= `graft.bm25ProbeExhaustiveMaxTokens` exploded
    * query-terms, default 512) take [[probeAllExhaustive]] outright:
    * below the corpus-pass fixed cost the unpruned fan-out is cheaper,
    * and the two plans are interchangeable BY CONSTRUCTION (rank-safe
    * bit-equality, pinned by ProbeAllSpec, which forces the pruned path
    * through the conf). */
  private[graft] def probeAll(s: SparkSession, pDir: String, lDir: String,
                              queries: DataFrame, topK: Int = 10): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(col("terms")).as("token")).distinct()
    // gate the plan choice and the small-side hints on the actual
    // probed size (one |Q|-scale job, corpus-free); past the broadcast
    // bound Catalyst plans shuffle joins instead of a forced
    // driver-side broadcast
    val qtRows = qt.count()
    val exhaustiveMax =
      s.conf.get("graft.bm25ProbeExhaustiveMaxTokens", "512").toLong
    if (qtRows <= exhaustiveMax)
      return probeAllExhaustive(s, pDir, lDir, queries, topK)
    def hint(small: DataFrame): DataFrame =
      if (qtRows <= ProbeBroadcastMaxTokens) broadcast(small) else small
    val vocab = qt.select("token").distinct()
    // COMMON-TERMS regime: when the probed vocabulary is small, every
    // term is frequent and upper-bound pruning provably cannot help (a
    // measured 1k-query batch over 30 distinct corpus-common tokens
    // yields 433M candidate pairs under the tightest sound bound — the
    // true top-k genuinely depends on most postings). The DENSE kernel
    // below answers that regime exactly without any |Q|-sized shuffle.
    val denseVocabMax = s.conf.get("graft.bm25DenseVocabMax", "256").toInt
    if (vocab.count() <= denseVocabMax) {
      probeAllDense(s, pDir, lDir, queries, qt, vocab, topK, hint) match {
        case Some(df) => return df
        case None => // signature budget exceeded — fall through to MaxScore
      }
    }
    val (candTok, dfRel, pm, dl, stats) =
      maxScoreCandTok(s, pDir, lDir, qt, vocab, topK, hint)
    val cand = candTok.select(col("q_id"), col("doc_id")).distinct()
    // exact re-score of every candidate over ALL its query's terms —
    // candidate-sized joins against postings, dl and the sidecar's df;
    // survivors carry exactly the exhaustive plan's scores
    val scored = cand.join(hint(qt), "q_id")
      .join(pm, Seq("token", "doc_id"))
      .join(dl, "doc_id")
      .join(hint(dfRel), "token")
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"), termScoreCol.as("term_score"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("doc_id"),
        round(col("score"), 6).as("bm25_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The MaxScore candidate GENERATOR, shared by [[probeAll]]'s pruned
    * tail and the [[tokenLoad]] skew audit so the audited relation can
    * never drift from the probed one: returns the pre-distinct
    * (q_id, doc_id, token) candidate relation plus the relations the
    * exact re-score joins against (sidecar df, vocab-pruned postings,
    * dl, corpus stats). */
  private def maxScoreCandTok(s: SparkSession, pDir: String, lDir: String,
                              qt: DataFrame, vocab: DataFrame, topK: Int,
                              hint: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val champDir = ensureChampions(s, pDir, lDir)
    // the sidecar is fingerprint-fresh, so its meta stats EQUAL the live
    // corpusStats — n rides into the ms bound as a literal, job-free
    val champN = readChampMeta(champDir).getOrElse(sys.error(
      s"champion sidecar at $champDir has no _meta.json")).n
    val champ = s.read.parquet(champDir)
      .join(hint(vocab), Seq("token"), "left_semi")
    val heads = champ.filter(col("rn") === 1)
    // ms(t) = max term score UPPER BOUND: the champion max is exact for
    // every posting still championed; idf·tail_kappa covers everything a
    // merged lineage ever dropped (see mergeChampions). On a fresh full
    // build idf·tail_kappa = ts_C ≤ ts_1, so this greatest() is the
    // plain champion max — pruning power unchanged.
    val ms = heads.select(col("token"),
      greatest(col("term_score"), idfCol(champN) * col("tail_kappa")).as("ms"))
    val dfRel = heads.select(col("token"), col("df"))
    // per-query top-k floor from champion partial sums (a true lower
    // bound: champions understate full scores, and a k-th best over a
    // subset never exceeds the k-th best overall)
    val wTh = Window.partitionBy(col("q_id"))
      .orderBy(col("partial").desc, col("doc_id"))
    val theta = champ.join(hint(qt), "token")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("partial"))
      .withColumn("trk", row_number().over(wTh))
      .filter(col("trk") === topK)
      .select(col("q_id"), col("partial").as("theta"))
    // MaxScore split: ascending-ms prefix sums; a term is ESSENTIAL
    // once its cumulative sum reaches the floor (minus the margin).
    // A doc holding ONLY non-essential terms provably cannot qualify,
    // so only essential terms generate candidates — this is what keeps
    // a stop word riding along with a selective term out of the
    // fan-out (its per-term score floor below would NOT: that bound
    // charges the selective term's max score to every doc, including
    // the stop-only docs that don't contain it).
    val wCum = Window.partitionBy(col("q_id"))
      .orderBy(col("ms").asc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val essential = qt.join(hint(ms), "token")
      .withColumn("cum", sum(col("ms")).over(wCum))
      .join(hint(theta), Seq("q_id"), "left")
      .filter(col("cum") >= coalesce(col("theta"), lit(-1e18)) - PruneMargin)
      .select(col("q_id"), col("token"), col("ms"))
    // Per-(query, essential token) SCORE FLOOR on postings — the
    // block-max-style refinement the essential split alone lacks: an
    // all-stop-word query keeps its largest stop word essential, and
    // without a floor that term fans out its corpus-sized posting
    // list. A doc d matched to q through t scores at most
    // ts(t,d) + Σ_{t'∈q, t'≠t} ms(t'), so d can reach q's floor
    // through t only when ts(t,d) >= θ_q − margin − (msSum_q − ms(t));
    // for the all-stop query that floor sits just under ms(t) —
    // champion depth. Both prunings are sound together: a doc with no
    // essential term is out by the prefix bound, and a doc whose every
    // matched essential term misses its floor is out by the per-term
    // bound.
    val msSum = qt.join(hint(ms), "token")
      .groupBy(col("q_id")).agg(sum(col("ms")).as("ms_sum"))
    val qFloor = essential
      .join(hint(msSum), "q_id")
      .join(hint(theta), Seq("q_id"), "left")
      .select(col("q_id"), col("token"),
        (coalesce(col("theta"), lit(-1e18)) - PruneMargin -
          (col("ms_sum") - col("ms"))).as("ts_floor"))
    // per-token prefilter floor (min over the probing queries), applied
    // BEFORE the query fan-out so |Q| never multiplies the filter input;
    // tokens whose floor clears even their max score generate nothing
    // and are dropped from the candidate scan's vocabulary outright
    val liveTok = qFloor.groupBy(col("token"))
      .agg(min(col("ts_floor")).as("tok_floor"))
      .join(hint(ms), "token")
      .filter(col("tok_floor") <= col("ms"))
      .select(col("token"), col("tok_floor"))
    val dl = dlRead(s, lDir)
    val stats = corpusStats(dl)
    val pm = s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .select(col("token"), col("doc_id"), col("tf"))
      .join(hint(vocab), Seq("token"), "left_semi")
    // candidates: inline term scores over the live tokens' postings
    // (one streaming pass — no aggregation buffers corpus-sized state),
    // prefiltered by the token floor, then exact-filtered per (q, t)
    val tsLive = s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .select(col("token"), col("doc_id"), col("tf"))
      .join(hint(liveTok), "token")
      .join(dl, "doc_id")
      .join(hint(dfRel), "token")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"),
        termScoreCol.as("ts"), col("tok_floor"))
      .filter(col("ts") >= col("tok_floor"))
    val candTok = tsLive.join(hint(qFloor), "token")
      .filter(col("ts") >= col("ts_floor"))
      .select(col("q_id"), col("doc_id"), col("token"))
    (candTok, dfRel, pm, dl, stats)
  }

  /** Per-token candidate fan-out of the MaxScore path — the skew audit
    * (guide §2.5) for the one corpus-sided join keyed on `token`
    * (tsLive ⋈ qFloor). In the broadcast regime that join has no
    * exchange at all; in the large-|Q| shuffle regime a hot token's
    * candidates land on one task, and this relation — grouped per token
    * over exactly the probed relation's rows — is what the committed
    * `bm25_token_skew` stress row measures (mirroring
    * Similarity.ivfCellLoad). */
  private[graft] def tokenLoad(s: SparkSession, pDir: String, lDir: String,
                               queries: DataFrame, topK: Int = 10): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(col("terms")).as("token")).distinct()
    val qtRows = qt.count()
    def hint(small: DataFrame): DataFrame =
      if (qtRows <= ProbeBroadcastMaxTokens) broadcast(small) else small
    val vocab = qt.select("token").distinct()
    val (candTok, _, _, _, _) =
      maxScoreCandTok(s, pDir, lDir, qt, vocab, topK, hint)
    candTok.groupBy(col("token")).agg(count(lit(1)).as("candidates"))
  }

  /** The r19 exhaustive batched probe, kept as the rank-safety BASELINE
    * for [[probeAll]]'s MaxScore pruning: ProbeAllSpec asserts the two
    * are bit-identical on real query batches, so any drift in the
    * pruning math fails fast. Joins every query to every posting of
    * each of its terms — linear in |Q| × df and deliberately unpruned. */
  private[graft] def probeAllExhaustive(s: SparkSession, pDir: String,
                                        lDir: String, queries: DataFrame,
                                        topK: Int = 10): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(col("terms")).as("token")).distinct()
    val vocab = qt.select("token").distinct()
    val pm = s.read.format("graft-kv")
      .option("catalog", postingsCatalogJson).option("path", pDir).load()
      .select(col("token"), col("doc_id"), col("tf"))
      .join(broadcast(vocab), Seq("token"), "left_semi")
    val dl = dlRead(s, lDir)
    val df = pm.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val termScores = pm
      .join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpusStats(dl)))
      .select(col("token"), col("doc_id"), termScoreCol.as("term_score"))
    val scored = termScores.join(qt, "token")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("doc_id"),
        round(col("score"), 6).as("bm25_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  private[queries] val Terms = Seq("table", "vector", "customer", "stream")

  val q127Bm25Persisted: Q = Q(
    "q127_bm25_persisted",
    (s, d) => {
      val (pDir, lDir) = buildIfAbsent(s, d, "full", Tables.documents(s, d))
      probe(s, pDir, lDir, Terms)
    },
    Some(TextOps.bm25OracleSql),
    doc = "BM25 over a persisted KV inverted index: term prefix seeks, pushed dl stats")

  val q128Bm25Incremental: Q = Q(
    "q128_bm25_incremental",
    (s, d) => {
      // seed the index from the first ~90% of the corpus, then let the
      // frontier maintenance index the tail — probing must be
      // indistinguishable from a full build (one oracle pins both)
      val (pDir, lDir) = buildIfAbsent(s, d, "inc", {
        val docs = Tables.documents(s, d)
        val cut = (docs.count() * 9) / 10
        docs.filter(col("doc_id") < cut)
      })
      ensureIndexed(s, d, pDir, lDir)
      probe(s, pDir, lDir, Terms)
    },
    Some(TextOps.bm25OracleSql),
    doc = "append-incremental inverted-index maintenance: tokenize only past the frontier")

  /** One micro-batch of index maintenance: tokenize and append the
    * batch's documents PAST the frontier. The frontier filter is
    * the replay discipline — a restarted stream re-delivers a batch,
    * finds its doc_ids already at-or-below the frontier, and appends
    * nothing (the q126 idempotency argument, keyed on the monotone
    * doc_id instead of an anti-join because postings rows are
    * per-(token, doc) and an anti-join would need the whole postings
    * table; the frontier is one pushed aggregate). Exposed for the
    * restart-idempotency spec.
    *
    * The two appends are separate KV commits and a crash can land
    * BETWEEN them, so each table admits the batch past ITS OWN
    * frontier: the delta is everything past the LOWER frontier,
    * tokenized once and cached, and each table's write takes the
    * cached rows past its own frontier. A fully-committed table's
    * filter drops the whole replayed batch, a crashed-out table's
    * filter admits exactly its missing rows; with equal frontiers —
    * every batch that does not follow a crash — both filters are the
    * identity, so crash replay runs the steady-state code. One
    * aggregate over the cached rows decides which tables get rows.
    *
    * A delta whose documents are all TOKEN-LESS produces dl rows but
    * zero postings rows; appending the empty postings frame would
    * churn table versions forever (the postings frontier can never
    * catch up to dl's), so a table's write is skipped when the delta
    * contributes no rows to it. The skipped write still ADVANCES the
    * postings frontier through the coverage stamp, so the two
    * frontiers stay equal after every crash-free batch. Stamp ordering
    * is the crash discipline: rows commit first, stamp second, dl
    * last — so a crash at any point leaves the stamp at or behind the
    * durable postings coverage and replay re-admits exactly the
    * missing rows. Returns the number of documents past the dl
    * frontier. */
  private[graft] def maintainBatch(s: SparkSession, batch: DataFrame,
                                   pDir: String, lDir: String): Long = {
    val fPtab = tableFrontier(s, postingsCatalogJson, pDir)
    val fP = math.max(fPtab, readStamp(pDir))
    val fDl = tableFrontier(s, dlCatalogJson, lDir)
    val lo = math.min(fP, fDl)
    // The pre-append champion sidecar (if any) is looked up BEFORE the
    // first write: its fingerprint is the merge's chain-of-custody. It
    // is carried forward only when both frontiers agreed on entry.
    val champs0 = if (fP == fDl) currentChampions(pDir, lDir) else None
    val deltaRaw = batch.filter(col("doc_id") > lo)
    // Spread tokenize+explode across cores before the delta-sized
    // write exchanges (r22, guide §2 — the LSH twin's md5 fix): the
    // staged feed delivers a micro-batch in 1–2 scan partitions, so
    // the tokenize pass otherwise runs near-serial. Sized from the
    // delta's plan-time byte estimate (~512 KiB of raw text per
    // task), capped at the session's parallelism — an unknown
    // estimate just caps out, costing empty tasks, never rows.
    val estBytes = deltaRaw.queryExecution.optimizedPlan.stats
      .sizeInBytes
    val par = BigInt(s.sparkContext.defaultParallelism)
      .min(estBytes / (512L << 10)).max(BigInt(1)).toInt
    val toks = tokensOf(deltaRaw.repartition(par)).persist()
    def past(f: Long): DataFrame =
      if (f > lo) toks.filter(col("doc_id") > f) else toks
    val (inP, inDl) = (col("doc_id") > fP, col("doc_id") > fDl)
    val tokened = size(col("t")) > 0
    try {
      val st = toks.agg(count(when(inDl, 1)).as("docs"),
        coalesce(sum(when(inP, size(col("t")))), lit(0L)).as("toks"),
        coalesce(max(col("doc_id")), lit(-1L)).as("mx"),
        count(when(inDl && tokened, 1)).as("npos"),
        coalesce(max(when(inP && tokened, col("doc_id"))), lit(-1L))
          .as("mx_tok")).head()
      val nDelta = st.getLong(0)
      if (st.getLong(2) >= 0) {
        if (st.getLong(1) > 0) {
          // ~24 B per (token#id key, token, doc_id, tf) posting row
          writePostings(s, postingsOf(past(fP)), pDir, "append",
            deltaShards(s, st.getLong(1) * 24))
        }
        // coverage reaches the delta max either way: rows just
        // committed above, or the uncovered tail is token-less
        writeStamp(pDir, st.getLong(2))
        if (nDelta > 0) {
          // ~16 B per (doc_id, dl) row
          writeDl(s, dlOf(past(fDl)), lDir, "append", deltaShards(s, nDelta * 16))
        }
        // independent tables — overlap the two self-compactions
        // (row-preserving, so running them after BOTH commits leaves
        // the rows-first/stamp-second/dl-last crash discipline intact)
        StreamMaint.maybeCompactBoth(s, pDir, lDir)
        // carry the champion sidecar forward (delta+sidecar-sized);
        // runs after every table mutation of this batch so fpNew is
        // the post-batch content
        champs0.foreach { case (dir0, meta0) =>
          mergeChampions(s, pDir, lDir, dir0, meta0, toks,
            nDelta, st.getLong(1), st.getLong(3))
        }
        // seed the frontier memos for the post-batch content: dl's
        // table max IS the delta max (a row per doc); the postings
        // table max advances only to the delta's last TOKENED doc
        FrontierCache.update(lDir, math.max(fDl, st.getLong(2)))
        FrontierCache.update(pDir, math.max(fPtab, st.getLong(4)))
      }
      nDelta
    } finally { toks.unpersist(); () }
  }

  /** Streaming index maintenance — the index is kept fresh BY the
    * micro-batch stream instead of by batch ensure() calls: the staged
    * document feed (q126's 3 ascending-doc_id commits) is drained as a
    * KV micro-batch stream (`maxVersionsPerTrigger = 1` pins one
    * commit per batch) and every batch appends its postings/dl rows
    * past the dl frontier. Because BM25's df/N/avgdl are algebraic
    * over postings/dl rows, the drained index is EXACTLY the index a
    * full rebuild would produce — the same q121 oracle pins the probe,
    * hash-exact (the q128 equation, now per micro-batch).
    *
    * At 100 TB this is the production retrieval-pipeline shape: the
    * corpus arrives as a stream, the inverted index never rebuilds —
    * per-batch cost is the batch's tokenize + two bounded appends +
    * one pushed frontier aggregate, independent of the accumulated
    * corpus size (stress `bm25_stream` measures the drain across
    * tiers). Restart-safe: checkpoint + the frontier filter make a
    * replayed batch a no-op.
    *
    * Staging vs measurement (r19): the feed's v1 slice is indexed ONCE
    * into a cached PRISTINE SEED (through the same [[maintainBatch]]
    * the stream uses); each invocation restores the working tables
    * from that seed and drains only the tail versions
    * (`sinceVersion = 1`). The timed body is therefore the steady-state
    * maintenance shape — tail micro-batches appending against an
    * existing index — not a from-scratch rebuild per repeat; the
    * drained index is still EXACTLY a full build (seed ∪ tail), so the
    * q121 oracle is unchanged. */
  val q132Bm25Stream: Q = Q(
    "q132_bm25_stream",
    (s, d) => {
      val (pDir, lDir) = StreamMaint.seededDrain(s, d, "bm25s", "postings", "dl")(
        maintainBatch(s, _, _, _))
      probe(s, pDir, lDir, Terms)
    },
    Some(TextOps.bm25OracleSql),
    doc = "streaming inverted-index maintenance: each micro-batch appends past the frontier; drained ≡ rebuilt")

  /** q135: q132's maintenance stream under an EVERY-BATCH compaction
    * cycle — the verification twin of the index-store self-compaction
    * wired in r18 ([[StreamMaint.maybeCompact]]). With the default
    * `graft.ivfCompactShards = 64` no gate-scale drain ever crosses the
    * threshold, so the compaction path would otherwise never execute in
    * any verified run; here the threshold is pinned to 2 (and the
    * vacuum grace to 0), so every append-past-threshold triggers a
    * merge-and-swap plus immediate reclamation of the superseded
    * files. Compaction merges files, never rows, so the probe is
    * pinned by the SAME q121 oracle as q132 — bit-identical across any
    * number of cycles. The query itself also requires the live shard
    * count to end bounded: the 3-batch drain appends 6 postings / 6 dl
    * shards, so a silently inert maybeCompact fails the gate rather
    * than passing with a fragmented table. The full feed drains from
    * scratch (no seed restore) to maximize append→compact→vacuum
    * cycles per run. */
  val q135Bm25StreamCompact: Q = Q(
    "q135_bm25_stream_compact",
    (s, d) => {
      val (pDir, lDir) = StreamMaint.compactedDrain(s, d, "bm25c", "postings", "dl")(
        maintainBatch(s, _, _, _))
      probe(s, pDir, lDir, Terms)
    },
    Some(TextOps.bm25OracleSql),
    doc = "inverted-index maintenance under every-batch self-compaction: merged files, identical probe")

  /** q138's oracle: the q121 BM25 replay generalized to a query
    * RELATION — queries are `doc_id < 100` with each document's first
    * 3 tokens as its term set (`t[1:3]` is 1-based inclusive ≡ Spark
    * `slice(t, 1, 3)`), de-duplicated to (q_id, token) set semantics.
    * Term scores are per (token, doc) exactly as q121; the per-query
    * fan-out joins them back to qt and ranks per q_id on the rounded
    * score (doc_id tiebreak). */
  private[queries] val bm25BatchOracleSql: String = """
      WITH ktoks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(text), '[ \t\n\r\f]+') END AS t
        FROM documents),
      ktf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM ktoks)
        GROUP BY doc_id, token),
      kdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ktf GROUP BY doc_id),
      kstats AS (
        SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM kdl),
      qt AS (
        SELECT DISTINCT q_id, token FROM (
          SELECT doc_id AS q_id, unnest(t[1:3]) AS token
          FROM ktoks WHERE doc_id < 100)),
      kpostings AS (
        SELECT f.* FROM ktf f WHERE f.token IN (SELECT token FROM qt)),
      kdf AS (SELECT token, count(*) AS df FROM kpostings GROUP BY token),
      kscored AS (
        SELECT p.token, p.doc_id,
               ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5)) *
               (p.tf * 2.2) /
               (p.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS term_score
        FROM kpostings p
        JOIN kdf f ON p.token = f.token
        JOIN kdl l ON p.doc_id = l.doc_id
        CROSS JOIN kstats s),
      kperq AS (
        SELECT q.q_id, sc.doc_id, sum(sc.term_score) AS score
        FROM kscored sc JOIN qt q ON sc.token = q.token
        GROUP BY q.q_id, sc.doc_id),
      kranked AS (
        SELECT q_id, doc_id, score,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(score, 6) DESC, doc_id) AS rk
        FROM kperq)
      SELECT q_id, rk, doc_id, round(score, 6) AS bm25_r
      FROM kranked WHERE rk <= 5
      ORDER BY q_id, rk"""

  /** q138: batched keyword retrieval — 100 queries (each document's
    * first 3 tokens, `doc_id < 100`) against the same persisted
    * inverted index q127 probes, in ONE distributed plan via
    * [[probeAll]]. The sparse twin of q137's batched ANN. */
  val q138Bm25ProbeBatch: Q = Q(
    "q138_bm25_probe_batch",
    (s, d) => {
      val (pDir, lDir) = buildIfAbsent(s, d, "full", Tables.documents(s, d))
      val queries = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id").as("q_id"),
          slice(graft.functions.Text.tokens(col("text")), 1, 3).as("terms"))
      probeAll(s, pDir, lDir, queries, topK = 5)
    },
    Some(bm25BatchOracleSql),
    doc = "batched BM25 retrieval: 100 query term-sets through the persisted inverted index in one plan")

  def defs: Seq[Q] =
    Seq(q127Bm25Persisted, q128Bm25Incremental, q132Bm25Stream,
      q135Bm25StreamCompact, q138Bm25ProbeBatch)
}
