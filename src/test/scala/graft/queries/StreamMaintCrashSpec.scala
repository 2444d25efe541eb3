package graft.queries

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error}

/** Crash-window replay for the streaming-maintenance trilogy (r18).
  *
  * Each store's maintainBatch spans TWO non-atomic KV commits (BM25:
  * postings then dl; LSH: bands then shingles; IVF: the assigned
  * append then the meta advance), and the r17 replay discipline only
  * proved idempotency when a crash landed BETWEEN batches — never
  * inside one. These specs commit exactly ONE of the two tables (the
  * state a real crash leaves), replay the batch, and require the
  * recovered index to be bit-indistinguishable from a clean build:
  * no doubled postings/bands (the shared-frontier bug re-appended the
  * already-committed table), no dropped shingles (the frontier-first
  * commit order made replay a no-op before the second table landed),
  * no duplicate vec_ids (the meta-pinned frontier couldn't see the
  * orphaned append). Both crash orders are exercised even where the
  * production code only commits in one order — the per-table
  * reconciliation must be symmetric or it is accidental. */
class StreamMaintCrashSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"
  private val Terms = Seq("table", "vector", "customer", "stream")
  private val mapper = new ObjectMapper()

  private def bm25Rows(df: org.apache.spark.sql.DataFrame) =
    df.select("rk", "doc_id", "bm25_r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).toSeq

  // ---- BM25: crash between the postings commit and the dl commit ----

  private def bm25Seed(cut: Long): (String, String) = {
    val pDir = Files.createTempDirectory("bm25-crash-p").toString
    val lDir = Files.createTempDirectory("bm25-crash-l").toString
    val (p0, dl0) =
      Bm25Store.indexRows(Tables.documents(spark, d).filter(col("doc_id") < cut))
    Bm25Store.writePostings(spark, p0, pDir, "overwrite", 2)
    Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
    (pDir, lDir)
  }

  test("BM25: replay after a postings-committed/dl-lost crash neither doubles tf/df nor drops dl") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (pDir, lDir) = bm25Seed(cut)
    val tail = docs.filter(col("doc_id") >= cut).select("doc_id", "text")
    // the crash: the first commit (postings) landed, the second didn't
    Bm25Store.writePostings(spark, Bm25Store.indexRows(tail)._1, pDir, "append", 2)
    // checkpoint replay re-delivers the same batch
    assert(Bm25Store.maintainBatch(spark, tail, pDir, lDir) == n - cut,
      "replay must index the dl rows the crash dropped")
    assert(Bm25Store.maintainBatch(spark, tail, pDir, lDir) == 0L,
      "a second replay must be a no-op")
    assert(bm25Rows(Bm25Store.probe(spark, pDir, lDir, Terms)) ==
      bm25Rows(TextOps.q121Bm25.fn(spark, d)),
      "recovered index must probe identically to a full build (doubled " +
        "postings would inflate tf/df; missing dl rows would shrink N)")
  }

  test("BM25: the reverse crash order (dl committed, postings lost) recovers too") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (pDir, lDir) = bm25Seed(cut)
    val tail = docs.filter(col("doc_id") >= cut).select("doc_id", "text")
    Bm25Store.writeDl(spark, Bm25Store.indexRows(tail)._2, lDir, "append")
    // dl's frontier already covers the batch — the return counts docs
    // past dl, so recovery legitimately reports 0 while appending the
    // missing postings
    Bm25Store.maintainBatch(spark, tail, pDir, lDir)
    assert(bm25Rows(Bm25Store.probe(spark, pDir, lDir, Terms)) ==
      bm25Rows(TextOps.q121Bm25.fn(spark, d)),
      "recovered index must probe identically to a full build")
  }

  test("BM25: a crash with a champion sidecar present replays without merging onto the pre-crash base") {
    import org.apache.spark.sql.functions.slice
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (pDir, lDir) = bm25Seed(cut)
    assert(Bm25Store.readChampMeta(Bm25Store.ensureChampions(spark, pDir, lDir))
      .exists(_.built == "full"))
    val tail = docs.filter(col("doc_id") >= cut).select("doc_id", "text")
    Bm25Store.writePostings(spark, Bm25Store.indexRows(tail)._1, pDir, "append", 2)
    assert(Bm25Store.maintainBatch(spark, tail, pDir, lDir) == n - cut)
    val merged = Option(new java.io.File(s"$pDir/_champ").listFiles()).toSeq.flatten
      .filter(f => Bm25Store.readChampMeta(f.toString).exists(_.built == "merged"))
    assert(merged.isEmpty,
      s"a replay after a crash must not merge onto the pre-crash sidecar: $merged")
    // the sidecar for the post-replay content is a full build
    assert(Bm25Store.readChampMeta(Bm25Store.ensureChampions(spark, pDir, lDir))
      .exists(_.built == "full"))
    // force the MaxScore regime so the probe actually reads the sidecar
    def maxScore[T](body: => T): T = StreamMaint.withConfs(spark,
      "graft.bm25ProbeExhaustiveMaxTokens" -> "0",
      "graft.bm25DenseVocabMax" -> "0")(body)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val queries = docs.filter(col("doc_id") < 50)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 3).as("terms"))
    assert(maxScore(rows(Bm25Store.probeAll(spark, pDir, lDir, queries))) ==
      rows(Bm25Store.probeAllExhaustive(spark, pDir, lDir, queries)),
      "the recovered index must probe rank-safely through its sidecar")
    val q121 = bm25Rows(TextOps.q121Bm25.fn(spark, d))
    assert(maxScore(bm25Rows(Bm25Store.probeAll(spark, pDir, lDir,
        Seq((7L, Terms)).toDF("q_id", "terms")))) == q121,
      "the recovered index must probe identically to a full build")
  }

  // ---- LSH: crash between the bands commit and the shingles commit ----

  private def lshSeed(cut: Long): (String, String) = {
    val bDir = Files.createTempDirectory("lsh-crash-b").toString
    val lDir = Files.createTempDirectory("lsh-crash-l").toString
    LshStore.writeIndex(spark,
      Tables.documents(spark, d).filter(col("doc_id") < cut), bDir, lDir,
      "overwrite")
    (bDir, lDir)
  }

  test("LSH: replay after a bands-committed/shingles-lost crash recovers the shingle rows") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (bDir, lDir) = lshSeed(cut)
    val tail = docs.filter(col("doc_id") >= cut)
    // the crash: bands (the r17 frontier bearer) committed FIRST, so a
    // shared-frontier replay would be a no-op and the tail's shingle
    // rows would be gone for good
    LshStore.writeBands(spark, tail, bDir, "append")
    LshStore.maintainBatch(spark, tail, bDir, lDir)
    assert(pairRows(LshStore.pairs(spark, bDir, lDir)) ==
      pairRows(Dedup.q46MinhashMd5.fn(spark, d)),
      "recovered index must yield the full-build pair relation (lost " +
        "shingles would silently shrink every Jaccard involving the tail)")
  }

  test("LSH: the reverse crash order (shingles committed, bands lost) neither doubles nor drops") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (bDir, lDir) = lshSeed(cut)
    val tail = docs.filter(col("doc_id") >= cut)
    LshStore.writeShingles(spark, tail, lDir, "append")
    LshStore.maintainBatch(spark, tail, bDir, lDir)
    assert(pairRows(LshStore.pairs(spark, bDir, lDir)) ==
      pairRows(Dedup.q46MinhashMd5.fn(spark, d)),
      "recovered index must yield the full-build pair relation (doubled " +
        "shingle rows would corrupt the doc's shingle-set cardinality)")
  }

  // ---- IVF: crash between the assigned append and the meta advance ----

  private def ivfStage(tag: String, seedN: Long): String = {
    val corpusDir = Files.createTempDirectory(s"ivf-crash-$tag").toString
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < seedN).coalesce(1)
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
    IvfStore.build(spark, corpusDir)
    corpusDir
  }

  private def probeRows(corpusDir: String) = {
    val qv = Tables.embeddings(spark, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Similarity.ivfProbe(spark, IvfStore.load(spark, corpusDir), qv, nProbe = 4)
      .collect().map(_.toString).toSeq
  }

  /** An unknown writer: a plain append to the index's `assigned` table
    * that carries no epoch key. */
  private def foreignAppend(corpus: String, rows: DataFrame): Unit =
    rows.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        lit(0).as("cell"))
      .write.format("graft-kv")
      .option("catalog", IvfStore.assignedCatalog("ivf_assigned"))
      .option("path", s"${IvfStore.indexRoot(corpus)}/assigned")
      .mode("append").save()

  /** The recovered index holds each of the `n` vectors once and probes
    * like a twin that took `tail` as one clean batch. */
  private def assertLikeTwin(corpus: String, tail: DataFrame, seedN: Long, n: Long,
                             tag: String): Unit = {
    val assigned = IvfStore.load(spark, corpus).assigned
    assert(assigned.count() == n &&
      assigned.select("vec_id").distinct().count() == n,
      "no duplicate vec_ids after the recovery")
    val twin = ivfStage(s"$tag-twin", seedN)
    IvfStore.maintainBatch(spark, twin, tail)
    assert(probeRows(corpus) == probeRows(twin),
      "the recovered index must probe identically to a crash-free one")
  }

  test("IVF: replay after a KV-committed/meta-lost crash adopts the orphan instead of doubling") {
    val vecs = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val seedN = n / 2
    val corpus = ivfStage("adopt", seedN)
    val root = IvfStore.indexRoot(corpus)
    val tail = vecs.filter(col("vec_id") >= seedN)
    // the crash: the injection point returns right after the assigned
    // append commits, before the meta advance — KV version ahead, the
    // append's key in the table's manifest
    val metaV = mapper.readTree(IvfStore.metaFile(root)).path("assignedVersion").asLong()
    IvfStore.maintainBatch(spark, corpus, tail, crashAfterAppend = true)
    assert(graft.kv.KvStore.readMeta(s"$root/assigned").committedEpochs
      .contains(IvfStore.maintKey(metaV)),
      "the crash must leave the append's key in the assigned manifest")
    assert(IvfStore.maintainBatch(spark, corpus, tail) == 0L,
      "replay must adopt the orphan commit and append nothing new")
    val meta = mapper.readTree(IvfStore.metaFile(root))
    assert(meta.path("n").asLong() == n,
      "adoption must fold the orphan's rows into the meta's count")
    assert(meta.path("assignedVersion").asLong() ==
      graft.kv.KvStore.readMeta(s"$root/assigned").version,
      "adoption must re-pin the meta at the orphan's version")
    assertLikeTwin(corpus, tail, seedN, n, "adopt")
  }

  test("IVF: a version-ahead table WITHOUT the marker rebuilds (unknown writer)") {
    val vecs = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val seedN = n / 2
    val corpus = ivfStage("foreign", seedN)
    val tail = vecs.filter(col("vec_id") >= seedN)
    // an orphan maintainBatch did NOT produce: no key ⇒ adoption would
    // be a guess, and the conservative answer is a full rebuild from
    // the corpus dir (here: the seed — the stream's own replay is the
    // recovery channel for the tail, exercised below)
    foreignAppend(corpus, tail)
    IvfStore.maintainBatch(spark, corpus, vecs.limit(0))
    val meta = mapper.readTree(IvfStore.metaFile(IvfStore.indexRoot(corpus)))
    assert(meta.path("appendedRows").asLong() == 0L,
      "an unexplained version skew must trigger a rebuild, not adoption")
    // the stream re-delivers the tail (AvailableNow replay): the
    // rebuilt-from-seed index catches back up to a consistent state
    assert(IvfStore.maintainBatch(spark, corpus, tail) == n - seedN)
    assertLikeTwin(corpus, tail, seedN, n, "foreign")
  }

  test("IVF: a batch that failed before its append cannot make a later foreign append adoptable") {
    val vecs = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val seedN = n / 2
    val corpus = ivfStage("stranger", seedN)
    val tail = vecs.filter(col("vec_id") >= seedN)
    // a task failure in the assign job: the frontier count prunes the
    // embedding column, so the error is raised only once the batch's
    // vectors are assigned, and the append never commits
    intercept[Exception](IvfStore.maintainBatch(spark, corpus,
      tail.withColumn("embedding", raise_error(lit("injected assign failure")))))
    // then a writer that is not maintainBatch appends vec_ids no corpus holds
    val foreignBase = 1000000000L
    foreignAppend(corpus, vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + foreignBase))
    assert(IvfStore.maintainBatch(spark, corpus, vecs.limit(0)) == 0L)
    val meta = mapper.readTree(IvfStore.metaFile(IvfStore.indexRoot(corpus)))
    assert(meta.path("appendedRows").asLong() == 0L,
      "a foreign append after a failed batch must rebuild, not be adopted")
    assert(IvfStore.load(spark, corpus).assigned
      .filter(col("vec_id") >= foreignBase).count() == 0L,
      "no foreign vec_id may be loadable after the rebuild")
    assert(IvfStore.maintainBatch(spark, corpus, tail) == n - seedN)
    assertLikeTwin(corpus, tail, seedN, n, "stranger")
  }

  // ---- the staged feed itself: a crash between its three commits ----

  test("a staged feed cut short after its first commit restages to all three") {
    // a private corpus dir (symlinked parquet) keys a private cache dir
    val corpus = Files.createTempDirectory("inc-docs-crash-corpus")
    Files.createSymbolicLink(corpus.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$d/documents.parquet"))
    val dir = KvQueries.incDocsDir(spark, corpus.toString)
    try {
      def feed() = spark.read.format("graft-kv")
        .option("catalog", KvQueries.docsIncCatalogJson).option("path", dir).load()
      val docs = Tables.documents(spark, d).count()
      assert(graft.kv.KvStore.readMeta(dir).version == 3 && feed().count() == docs)
      // the state a crash after commit 1 leaves: version 1 is live
      Files.copy(java.nio.file.Paths.get(s"$dir/_kvmeta.v1.json"),
        java.nio.file.Paths.get(graft.kv.KvStore.metaPath(dir)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(feed().count() < docs)
      assert(KvQueries.incDocsDir(spark, corpus.toString) == dir)
      assert(graft.kv.KvStore.readMeta(dir).version == 3,
        "a partial feed must be restaged, not accepted as built")
      assert(feed().count() == docs)
      assert(feed().select("doc_id").distinct().count() == docs)
    } finally {
      graft.util.Dirs.rmrf(new java.io.File(dir))
      graft.util.Dirs.rmrf(corpus.toFile)
    }
  }
}
