package graft.queries

import graft.{Q, Tables}
import graft.util.Dirs.cacheKey
import graft.queries.StreamMaint.tableFrontier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH index — the DEDUP family's entry in the
  * persisted-index trilogy (dense: [[IvfStore]] q115/q116; sparse:
  * [[Bm25Store]] q127/q128; near-dup: here). The expensive part of
  * LSH dedup at 100 TB is sketching — tokenize, shingle, 32 md5
  * minima per document — and it is paid per CORPUS, not per query,
  * once the sketch lives in versioned graft-kv tables:
  *
  *  - `lsh_bands` keyed `<band>|<bkey>#<doc_id %012d>`: a band
  *    bucket's members are one ROWKEY PREFIX SEEK (`<band>|<bkey>#`),
  *    so "which docs could near-dup this one?" reads |its 8 buckets|
  *    rows, never the table.
  *  - `lsh_shingles` keyed `<doc_id %012d>#<md5(sh)>`: a candidate
  *    pair's exact-Jaccard verification fetches each doc's shingle
  *    set by doc-id prefix.
  *
  * Maintenance is frontier-incremental like q116/q128: each table
  * appends only the documents past its own pushed `max(doc_id)`, and
  * the batch is sketched once for both. MinHash signatures are
  * per-document — a new doc never changes an indexed doc's rows — so
  * an appended index is EXACTLY a full rebuild, and both q130
  * (build → pair scan) and q131 (build 90% → append 10% → pair scan)
  * hash-check against q46's full-pipeline oracle (the md5 hash family
  * exists precisely so this sketch is SQL-replayable).
  */
object LshStore {

  private val bandsCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "lsh_bands"},
      |  "rowkey": "pk",
      |  "columns": {
      |    "pk": {"cf": "rowkey", "col": "pk", "type": "string"},
      |    "band": {"cf": "b", "col": "b", "type": "int"},
      |    "bkey": {"cf": "b", "col": "k", "type": "string"},
      |    "doc_id": {"cf": "b", "col": "d", "type": "long"}
      |  }
      |}""".stripMargin

  private val shinglesCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "lsh_shingles"},
      |  "rowkey": "pk",
      |  "columns": {
      |    "pk": {"cf": "rowkey", "col": "pk", "type": "string"},
      |    "doc_id": {"cf": "s", "col": "d", "type": "long"},
      |    "sh": {"cf": "s", "col": "sh", "type": "string"}
      |  }
      |}""".stripMargin

  private def pad(id: org.apache.spark.sql.Column) =
    lpad(id.cast("string"), 12, "0")

  /** The bands half of the index write, from an already-computed
    * (doc_id, sh) shingle relation — [[maintainBatch]] shingles the
    * delta ONCE and feeds both table writes from the cached rows. */
  private[graft] def writeBandsFrom(s: SparkSession, sh: DataFrame,
                                    bDir: String, mode: String,
                                    shards: Int = 4): Unit =
    Dedup.md5Banded(sh).select(
        concat(col("band").cast("string"), lit("|"), col("bkey"), lit("#"),
          pad(col("doc_id"))).as("pk"),
        col("band"), col("bkey"), col("doc_id"))
      .repartitionByRange(shards, col("pk"))
      .write.format("graft-kv")
      .option("catalog", bandsCatalogJson).option("path", bDir)
      .mode(mode).save()

  /** The bands half over raw documents — one KV commit (exposed for the
    * crash-window spec, which commits it alone to simulate a crash
    * between the two table commits). */
  private[graft] def writeBands(s: SparkSession, docs: DataFrame,
                                bDir: String, mode: String): Unit =
    writeBandsFrom(s, Dedup.shingleRowsOf(docs), bDir, mode)

  /** The shingles half from the shared shingle relation. */
  private[graft] def writeShinglesFrom(s: SparkSession, sh: DataFrame,
                                       lDir: String, mode: String,
                                       shards: Int = 4): Unit =
    sh.select(
        concat(pad(col("doc_id")), lit("#"),
          md5(col("sh").cast("binary"))).as("pk"),
        col("doc_id"), col("sh"))
      .repartitionByRange(shards, col("pk"))
      .write.format("graft-kv")
      .option("catalog", shinglesCatalogJson).option("path", lDir)
      .mode(mode).save()

  /** The shingles half over raw documents — the second KV commit. */
  private[graft] def writeShingles(s: SparkSession, docs: DataFrame,
                                   lDir: String, mode: String): Unit =
    writeShinglesFrom(s, Dedup.shingleRowsOf(docs), lDir, mode)

  private[graft] def writeIndex(s: SparkSession, docs: DataFrame,
                                  bDir: String, lDir: String,
                                  mode: String): Unit = {
    writeBands(s, docs, bDir, mode)
    writeShingles(s, docs, lDir, mode)
  }

  private[graft] def buildIfAbsent(s: SparkSession, d: String, tag: String,
                                     docs: => DataFrame): (String, String) = {
    val bDir = graft.kv.KvStore.cacheDir(s"lsh-$tag-bands-${cacheKey(d)}")
    val lDir = graft.kv.KvStore.cacheDir(s"lsh-$tag-shingles-${cacheKey(d)}")
    if (!StreamMaint.committed(bDir, lDir))
      writeIndex(s, docs, bDir, lDir, "overwrite")
    (bDir, lDir)
  }

  /** Frontier maintenance: sketch and append ONLY documents past each
    * table's pushed `max(doc_id)` ([[maintainBatch]] with the whole
    * corpus as the batch). Signatures are per-document, so appended
    * rows compose with the indexed ones exactly. Returns the number of
    * newly indexed documents. */
  private[graft] def ensureIndexed(s: SparkSession, d: String,
                                     bDir: String, lDir: String): Long =
    maintainBatch(s, Tables.documents(s, d), bDir, lDir)

  /** One batch of sketch-index maintenance: sketch and append ONLY the
    * batch's documents past the index frontier — the q131 update, per
    * micro-batch (exposed for q134's stream and the schedule fuzz). A
    * doc writes band rows iff it has ≥ 3 tokens, and exactly those
    * docs write shingle rows too, so the two tables hold the same
    * doc_id set — but their appends are SEPARATE KV commits, so each
    * table admits the batch past ITS OWN frontier: with a single shared
    * bands frontier, a crash that committed bands but not shingles
    * would make the replayed batch a no-op and permanently drop the
    * batch's shingle rows (every later Jaccard verification involving
    * those docs reads an incomplete shingle set — silent, not failing).
    *
    * The delta is everything past the LOWER frontier, shingled ONCE and
    * cached; each table's write takes the cached rows past its own
    * frontier. With equal frontiers — every batch that does not follow
    * a crash — both filters are the identity, so crash replay runs the
    * steady-state code. A delta whose documents are all SHORT
    * (< 3 tokens) sketches to zero rows in BOTH tables; appending the
    * empty frames would churn table versions on every replay (the
    * frontiers can never advance past such a tail), so one aggregate
    * over the cached rows decides which tables get rows and a table
    * with none is skipped. Returns the number of documents past the
    * lower frontier. */
  private[graft] def maintainBatch(s: SparkSession, batch: DataFrame,
                                   bDir: String, lDir: String): Long = {
    val fB = tableFrontier(s, bandsCatalogJson, bDir)
    val fS = tableFrontier(s, shinglesCatalogJson, lDir)
    val lo = math.min(fB, fS)
    val (inB, inS) = (col("doc_id") > fB, col("doc_id") > fS)
    // Delta appends are shard-sized from the delta itself (r21, guide
    // §6): the fixed 4-way range repartition made every micro-batch pay
    // a sampling pass + 4 write tasks and leave 4 sliver shards per
    // table per batch; bytes-derived with a floor of 1, a typical
    // micro-batch lands ONE range-tight shard (repartitionByRange(1,…)
    // skips the sampling job) while a bulk backfill still fans out.
    // ~4 KiB/doc covers band rows (32 fixed-width) and shingle rows.
    val delta = batch.filter(col("doc_id") > lo)
    val st = delta.agg(count(lit(1)).as("n"),
      coalesce(max(col("doc_id")), lit(-1L)).as("mx"),
      count(when(inB, 1)).as("nb"), count(when(inS, 1)).as("ns")).head()
    val nDocs = st.getLong(0)
    if (nDocs > 0) {
      // Spread the 32-md5 MinHash sketch across cores BEFORE the
      // banded rows funnel into the delta-sized range exchange (r22,
      // guide §2): the staged feed delivers a micro-batch in 1–2 scan
      // partitions, so the sketch — the batch's dominant compute
      // (JobProfile: one ~1.3 s near-serial job per batch at sf0.1) —
      // otherwise runs on 1–2 cores while the rest idle. ~64 docs per
      // task; the round-robin exchange moves only the delta's raw
      // rows, bought against a cores-wide md5 stage. Scale-adaptive:
      // a bulk backfill caps at the session's parallelism.
      val par = math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nDocs / 64).toInt))
      val sh = Dedup.shingleRowsOf(delta.repartition(par)).persist()
      def past(f: Long): DataFrame =
        if (f > lo) sh.filter(col("doc_id") > f) else sh
      try {
        val rows = sh.agg(count(when(inB, 1)), count(when(inS, 1))).head()
        if (rows.getLong(0) > 0)
          writeBandsFrom(s, past(fB), bDir, "append",
            IvfStore.indexShards(s, st.getLong(2) * 4096, 1))
        if (rows.getLong(1) > 0)
          writeShinglesFrom(s, past(fS), lDir, "append",
            IvfStore.indexShards(s, st.getLong(3) * 4096, 1))
        // independent tables — overlap the two self-compactions
        if (rows.getLong(0) > 0 || rows.getLong(1) > 0)
          StreamMaint.maybeCompactBoth(s, bDir, lDir)
      } finally { sh.unpersist(); () }
      // Seed the frontier memo with the EFFECTIVE frontier (the
      // delta's max doc_id): docs shorter than 3 tokens never write
      // rows to either table, so the table max can sit below this —
      // but re-admitting such docs is a no-op by construction (they
      // sketch to zero rows), and a fresh JVM recomputes the durable
      // table max anyway. Within a drain this replaces the two
      // per-batch frontier jobs with manifest reads.
      FrontierCache.update(bDir, math.max(fB, st.getLong(1)))
      FrontierCache.update(lDir, math.max(fS, st.getLong(1)))
    }
    nDocs
  }

  private[queries] def bandsRead(s: SparkSession, bDir: String): DataFrame =
    s.read.format("graft-kv")
      .option("catalog", bandsCatalogJson).option("path", bDir).load()

  /** One document's candidate set: 8 prefix seeks into its band
    * buckets (exposed for the plan spec — the point-lookup shape the
    * rowkey layout exists for). */
  private[queries] def bucketLookup(s: SparkSession, bDir: String,
                                    buckets: Seq[(Int, String)]): DataFrame =
    bandsRead(s, bDir)
      .filter(buckets.map { case (b, k) =>
        col("pk").startsWith(s"$b|$k#")
      }.reduce(_ || _))
      .select(col("band"), col("bkey"), col("doc_id"))

  /** The full verified near-dup pair relation, computed entirely from
    * the persisted tables: candidates from shared band keys, exact
    * Jaccard from the shingles table — no tokenize, no md5, no corpus
    * read. Output ≡ q46. */
  private[graft] def pairs(s: SparkSession, bDir: String,
                             lDir: String): DataFrame = {
    val banded = bandsRead(s, bDir).select(col("band"), col("bkey"), col("doc_id"))
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val sh = s.read.format("graft-kv")
      .option("catalog", shinglesCatalogJson).option("path", lDir).load()
      .select(col("doc_id"), col("sh"))
    Dedup.verifyJaccard(sh, cands).orderBy(col("id_a"), col("id_b"))
  }

  /** BATCHED near-dup probe — the dedup-family twin of the batched
    * retrieval probes (q137 dense / q138 sparse): given a BATCH of
    * documents, find every verified near-dup pair involving them
    * against the whole persisted index, WITHOUT re-sketching the
    * corpus and without the full pair scan. The batch is sketched
    * in-flight (cost ∝ batch — MinHash is per-document, so the
    * in-flight rows are bit-identical to the stored ones), its band
    * rows join the persisted bands table on (band, bkey) — candidates
    * are sized by shared buckets, never |batch|·|corpus| — and exact
    * Jaccard verifies from the persisted shingles table. No driver
    * loop, no collect; the query relation stays distributed. */
  private[graft] def probeBatch(s: SparkSession, bDir: String, lDir: String,
                                batch: DataFrame): DataFrame = {
    val probe = Dedup.md5Banded(Dedup.shingleRowsOf(batch))
      .select(col("band"), col("bkey"), col("doc_id").as("p_id"))
    val cands = bandsRead(s, bDir)
      .select(col("band"), col("bkey"), col("doc_id"))
      .join(probe, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("p_id"))
      .select(least(col("doc_id"), col("p_id")).as("id_a"),
        greatest(col("doc_id"), col("p_id")).as("id_b"))
      .distinct()
    val sh = s.read.format("graft-kv")
      .option("catalog", shinglesCatalogJson).option("path", lDir).load()
      .select(col("doc_id"), col("sh"))
    Dedup.verifyJaccard(sh, cands).orderBy(col("id_a"), col("id_b"))
  }

  /** q139: [[probeBatch]] for the corpus' last 10% against the full
    * persisted index. Every pair's LARGER id is a batch doc (batch ids
    * are the corpus maximum), so the relation ≡ q46's pair relation
    * filtered to `id_b >= cut` — the oracle wraps q46's full replay
    * with exactly that predicate. */
  val q139LshProbeBatch: Q = Q(
    "q139_lsh_probe_batch",
    (s, d) => {
      val (bDir, lDir) = buildIfAbsent(s, d, "full", Tables.documents(s, d))
      val docs = Tables.documents(s, d)
      val cut = (docs.count() * 9) / 10
      probeBatch(s, bDir, lDir, docs.filter(col("doc_id") >= cut))
    },
    Dedup.q46MinhashMd5.oracle.map(sql => s"""
      SELECT * FROM ($sql) t
      WHERE id_b >= (SELECT (count(*) * 9) // 10 FROM documents)
      ORDER BY id_a, id_b"""),
    doc = "batched near-dup probe: a document batch sketched in-flight against the persisted LSH index")

  val q130LshPersisted: Q = Q(
    "q130_lsh_persisted",
    (s, d) => {
      val (bDir, lDir) = buildIfAbsent(s, d, "full", Tables.documents(s, d))
      pairs(s, bDir, lDir)
    },
    Dedup.q46MinhashMd5.oracle,
    doc = "near-dup pairs from a persisted LSH index: sketch paid once per corpus")

  val q131LshIncremental: Q = Q(
    "q131_lsh_incremental",
    (s, d) => {
      val (bDir, lDir) = buildIfAbsent(s, d, "inc", {
        val docs = Tables.documents(s, d)
        val cut = (docs.count() * 9) / 10
        docs.filter(col("doc_id") < cut)
      })
      ensureIndexed(s, d, bDir, lDir)
      pairs(s, bDir, lDir)
    },
    Dedup.q46MinhashMd5.oracle,
    doc = "frontier-incremental LSH maintenance: sketch only the unindexed tail")

  /** q134: streaming sketch-index maintenance — the LSH arm of the
    * streaming trilogy (q132 inverted index, q133 IVF, this). The
    * staged document feed (q126's 3 ascending-doc_id commits) drains
    * as micro-batches (`maxVersionsPerTrigger = 1`) and every batch
    * sketches + appends ONLY documents past each table's pushed
    * `max(doc_id)` frontier. MinHash signatures are per-document, so
    * the drained index is EXACTLY a full build — q46's full-pipeline
    * oracle pins the pair relation hash-exactly — and a replayed batch
    * is absorbed by the two frontiers.
    *
    * Staging vs measurement (r19, same shape as q132): the feed's v1
    * slice is sketched ONCE into a cached pristine seed; each
    * invocation restores the working tables from it and drains only
    * the tail versions, so the timed body is steady-state maintenance,
    * not a from-scratch rebuild — and seed ∪ tail is still exactly a
    * full build, so q46's oracle is unchanged. */
  val q134LshStream: Q = Q(
    "q134_lsh_stream",
    (s, d) => {
      val (bDir, lDir) = StreamMaint.seededDrain(s, d, "lshs", "bands", "shingles")(
        maintainBatch(s, _, _, _))
      pairs(s, bDir, lDir)
    },
    Dedup.q46MinhashMd5.oracle,
    doc = "streaming LSH sketch maintenance: each micro-batch sketches past the index frontiers; drained ≡ full build")

  /** q136: q134's maintenance stream under an EVERY-BATCH compaction
    * cycle — the LSH arm of the self-compaction proof (see
    * [[Bm25Store.q135Bm25StreamCompact]]). Bands/shingles append 4
    * shards per batch, so with `graft.ivfCompactShards = 2` every
    * single batch crosses the threshold and compacts (then grace-0
    * vacuums); the pair relation is pinned by the SAME q46 oracle as
    * q134, and the query requires the live shard counts to end
    * bounded so an inert maybeCompact fails the gate. */
  val q136LshStreamCompact: Q = Q(
    "q136_lsh_stream_compact",
    (s, d) => {
      val (bDir, lDir) = StreamMaint.compactedDrain(s, d, "lshc", "bands", "shingles")(
        maintainBatch(s, _, _, _))
      pairs(s, bDir, lDir)
    },
    Dedup.q46MinhashMd5.oracle,
    doc = "LSH sketch maintenance under every-batch self-compaction: merged files, identical pairs")

  def defs: Seq[Q] =
    Seq(q130LshPersisted, q131LshIncremental, q134LshStream,
      q136LshStreamCompact, q139LshProbeBatch)
}
