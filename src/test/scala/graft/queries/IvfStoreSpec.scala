package graft.queries

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent IVF index: cold-loaded probes must equal in-session
  * probes bit-for-bit, and the staleness guard must catch any corpus
  * change without ever scanning corpus data. */
class IvfStoreSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** A private corpus copy this suite can mutate: the staleness tests
    * must never touch the shared driver corpus. */
  private def copyCorpus(): String = {
    val dir = Files.createTempDirectory("ivf-corpus").toString
    Files.copy(Paths.get(s"$d/embeddings.parquet"),
      Paths.get(s"$dir/embeddings.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  private def queriesDf(dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  test("cold-loaded persisted index probes identically to the in-session index") {
    val idxMem = Similarity.ivfIndex(spark, d)
    val inMem = Similarity.ivfProbe(spark, idxMem, queriesDf(d), nProbe = 4)
    val idxCold = IvfStore.ensure(spark, d)
    val cold = Similarity.ivfProbe(spark, idxCold, queriesDf(d), nProbe = 4)
    assert(cold.except(inMem).count() == 0 && inMem.except(cold).count() == 0,
      "persisted-index probe diverged from the in-session probe")
    assert(cold.count() > 0)
  }

  test("load refuses when no index exists") {
    val corpus = copyCorpus()
    val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
    assert(e.getMessage.contains("no persisted IVF index"))
  }

  test("staleness guard: a corpus rewrite is refused, rebuild-on-stale recovers") {
    val corpus = copyCorpus()
    val idx1 = IvfStore.ensure(spark, corpus)
    val n1 = idx1.assigned.count()
    assert(n1 == Tables.embeddings(spark, corpus).count())
    // rewrite the corpus: drop a vector and bump mtime — any real
    // pipeline regeneration changes length and/or mtime the same way
    val dropped = Tables.embeddings(spark, corpus)
      .agg(min(col("vec_id"))).head.getLong(0)
    val emb2 = Tables.embeddings(spark, corpus).filter(col("vec_id") =!= dropped)
    val tmpOut = Files.createTempDirectory("ivf-rewrite").toString
    emb2.coalesce(1).write.mode("overwrite").parquet(s"$tmpOut/embeddings.parquet")
    graft.util.Dirs.rmrf(new File(s"$corpus/embeddings.parquet"))
    Files.move(Paths.get(s"$tmpOut/embeddings.parquet"),
      Paths.get(s"$corpus/embeddings.parquet"))
    // default: refuse with the descriptive error (both load and ensure)
    val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
    assert(e.getMessage.contains("different corpus state"))
    val e2 = intercept[IllegalStateException](IvfStore.ensure(spark, corpus))
    assert(e2.getMessage.contains("different corpus state"))
    // an explicit build rebuilds against the new corpus and the index
    // reflects it (the dropped vector is gone)
    val idx2 = IvfStore.build(spark, corpus)
    assert(idx2.assigned.count() == n1 - 1)
    assert(idx2.assigned.filter(col("vec_id") === dropped).count() == 0)
    // the pre-rebuild index was version-pinned: after the truncate-
    // overwrite it fails LOUDLY (version unavailable) instead of
    // silently reading the other build's rows
    val e3 = intercept[Exception](idx1.assigned.count())
    assert(e3.getMessage.contains("unavailable"), e3.getMessage)
  }

  /** A directory-shaped corpus copy (Spark layout) that file-level
    * appends can extend — the shape a corpus ingest job produces. */
  private def copyCorpusDir(): String = {
    val dir = Files.createTempDirectory("ivf-inc").toString
    Tables.load(spark, d, "embeddings").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Append `nRows` NEW vectors (fresh vec_ids, existing embeddings) as
    * a new parquet file — a pure file-level append. */
  private def appendRows(corpus: String, idOffset: Long, nRows: Int): Unit =
    Tables.load(spark, d, "embeddings").orderBy(col("vec_id")).limit(nRows)
      .withColumn("vec_id", col("vec_id") + idOffset)
      .coalesce(1).write.mode("append").parquet(s"$corpus/embeddings.parquet")

  private def meta(corpus: String) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(IvfStore.metaFile(IvfStore.indexRoot(corpus)))
  }

  test("append-incremental update: frozen centroids, delta-only assignment, bumped pin") {
    val corpus = copyCorpusDir()
    val idx1 = IvfStore.ensure(spark, corpus)
    val m1 = meta(corpus)
    val n1 = idx1.nVectors
    assert(n1 == Tables.embeddings(spark, corpus).count())
    appendRows(corpus, idOffset = 100000, nRows = 30)
    // load() is read-only: it must refuse the grown corpus, naming the
    // append classification (not the rewrite one)
    val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
    assert(e.getMessage.contains("GREW BY PURE APPEND"), e.getMessage)
    // ensure() takes the incremental path
    val idx2 = IvfStore.ensure(spark, corpus)
    val m2 = meta(corpus)
    assert(m2.path("centroidsVersion").asLong() == m1.path("centroidsVersion").asLong(),
      "incremental update must not touch the centroid table")
    assert(m2.path("assignedVersion").asLong() == m1.path("assignedVersion").asLong() + 1,
      "incremental update must be exactly one append commit on the assigned table")
    assert(m2.path("k").asLong() == m1.path("k").asLong())
    assert(m2.path("baseN").asLong() == m1.path("baseN").asLong())
    assert(m2.path("appendedRows").asLong() == 30)
    assert(idx2.nVectors == n1 + 30 && idx2.assigned.count() == n1 + 30)
    // the delta's persisted cells must equal a direct frozen-centroid
    // assignment of the same rows
    val delta = Tables.embeddings(spark, corpus).filter(col("vec_id") >= 100000)
      .select(col("vec_id"), col("embedding"))
    val expected = Similarity
      .assignRouted(delta, idx2.coarse, idx2.centRouted, idx2.nlist)
      .select(col("vec_id"), col("cell"))
    val got = idx2.assigned.filter(col("vec_id") >= 100000)
      .select(col("vec_id"), col("cell"))
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0,
      "incrementally-assigned cells diverge from a direct frozen-centroid assignment")
    // a second ensure() with no corpus change is a plain fresh load
    val idx3 = IvfStore.ensure(spark, corpus)
    assert(idx3.nVectors == n1 + 30)
    assert(meta(corpus).path("assignedVersion").asLong() ==
      m2.path("assignedVersion").asLong())
  }

  test("append past the drift bound refuses; rebuild-on-stale re-bases") {
    val corpus = copyCorpusDir()
    IvfStore.ensure(spark, corpus)
    appendRows(corpus, idOffset = 200000, nRows = 30)
    spark.conf.set("graft.ivfMaxAppendFrac", "0.000001")
    try {
      val e = intercept[IllegalStateException](IvfStore.ensure(spark, corpus))
      assert(e.getMessage.contains("exceeds graft.ivfMaxAppendFrac"), e.getMessage)
      // an explicit build re-bases the drift accounting
      val idx = IvfStore.build(spark, corpus)
      val m = meta(corpus)
      assert(m.path("appendedRows").asLong() == 0)
      assert(m.path("baseN").asLong() == idx.nVectors)
    } finally spark.conf.unset("graft.ivfMaxAppendFrac")
  }

  test("a zero-row appended file re-pins the meta without an assigned commit") {
    val corpus = copyCorpusDir()
    IvfStore.ensure(spark, corpus)
    val m1 = meta(corpus)
    def dataFiles() = new File(s"$corpus/embeddings.parquet").listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = dataFiles()
    appendRows(corpus, idOffset = 400000, nRows = 0)
    assert(dataFiles() > before, "the empty append must add a data file to the listing")
    IvfStore.ensure(spark, corpus)
    val m2 = meta(corpus)
    assert(m2.path("assignedVersion").asLong() == m1.path("assignedVersion").asLong(),
      "an empty delta must not commit to the assigned table")
    assert(m2.path("n").asLong() == m1.path("n").asLong())
    assert(m2.path("fingerprint").asText() != m1.path("fingerprint").asText(),
      "the meta must re-pin the grown listing")
    assert(IvfStore.load(spark, corpus).nVectors == m1.path("n").asLong())
  }

  test("dangling KV commit (crashed update) falls back to a full rebuild") {
    val corpus = copyCorpusDir()
    val idx1 = IvfStore.ensure(spark, corpus)
    val root = IvfStore.indexRoot(corpus)
    // simulate a crash between the KV append and the meta write: commit
    // one stray row to the assigned table without advancing the meta
    idx1.assigned.limit(1)
      .withColumn("vec_id", col("vec_id") + 900000)
      .write.format("graft-kv")
      .option("catalog",
        """{"table":{"name":"ivf_assigned"},"rowkey":"vec_id",
          | "columns":{"vec_id":{"cf":"rowkey","col":"vec_id","type":"long"},
          |            "embedding":{"cf":"i","col":"e","type":"array<float>"},
          |            "cell":{"cf":"i","col":"c","type":"int"}}}""".stripMargin)
      .option("path", s"$root/assigned").mode("append").save()
    // a fresh-corpus load still serves the last CONSISTENT state: reads
    // pin the meta's versions, so the stray commit is invisible
    assert(IvfStore.ensure(spark, corpus).assigned
      .filter(col("vec_id") >= 900000).count() == 0)
    // the next incremental attempt detects the dangling commit and
    // rebuilds instead of double-appending
    appendRows(corpus, idOffset = 300000, nRows = 10)
    val idx2 = IvfStore.ensure(spark, corpus)
    val m = meta(corpus)
    assert(m.path("appendedRows").asLong() == 0, "expected a full rebuild")
    assert(idx2.assigned.filter(col("vec_id") >= 900000).count() == 0,
      "the stray pre-crash row must not survive the rebuild")
    assert(idx2.nVectors == idx1.nVectors + 10)
  }

  test("coarse router is the cid-prefix of the persisted centroid table") {
    val idx = IvfStore.ensure(spark, d)
    val c = idx.coarse.count()
    assert(c >= 4 && c <= idx.nlist)
    // every coarse row must be the identically-numbered fine centroid
    val joined = idx.coarse.as("g")
      .join(idx.centRouted.as("f"), col("g.gid") === col("f.cid"))
      .filter(expr("cosine_sim(gemb, cemb)") < 0.999999)
    assert(joined.count() == 0, "coarse router drifted from the fine-centroid prefix")
  }

  test("streaming maintenance (q133): drained index ≡ q116's append-maintained index, replay is a no-op") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // same 90% centroid basis, same assignments → identical probe
    assert(rows(IvfStore.q133IvfStream.fn(spark, d)) ==
      rows(IvfStore.q116IvfIncremental.fn(spark, d)),
      "stream-maintained and batch-append-maintained indexes must probe identically")
    // lost-checkpoint worst case: every staged version re-delivered
    // against the drained index must be absorbed by the frontier
    val root = IvfStore.streamRoot(d)
    val staged = spark.read.format("graft-kv")
      .option("catalog", IvfStore.feedCatalog).option("path", s"$root/feed").load()
    assert(IvfStore.maintainBatch(spark, s"$root/corpus", staged) == 0L,
      "replayed batches past a drained index must append nothing")
    assert(rows(IvfStore.q133IvfStream.fn(spark, d)) ==
      rows(IvfStore.q116IvfIncremental.fn(spark, d)),
      "a replay must not change the probe result")
  }

  test("parquet-corpus maintenance self-compacts the assigned table past the threshold") {
    // same shared maybeCompactAssigned as the KV path, exercised from
    // IvfStore.incrementLocked's call site: repeated append cycles under
    // a low threshold keep the index table's live shard count bounded
    // and the content exact
    val corpus = copyCorpusDir()
    IvfStore.ensure(spark, corpus)
    val assignedDir = s"${IvfStore.indexRoot(corpus)}/assigned"
    spark.conf.set("graft.ivfCompactShards", "2")
    spark.conf.set("graft.ivfVacuumGraceMs", "0")
    try {
      (0 until 3).foreach { i =>
        appendRows(corpus, idOffset = 200000 + i * 1000, nRows = 10)
        IvfStore.ensure(spark, corpus)
      }
      val live = graft.kv.KvStore.readMeta(assignedDir)
      assert(live.shards.length <= 2,
        s"expected a bounded index table, got ${live.shards.length} shards")
      assert(meta(corpus).path("assignedVersion").asLong() == live.version,
        "self-maintenance must re-pin assignedVersion")
      val idx = IvfStore.load(spark, corpus)
      val want = Tables.embeddings(spark, corpus)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = idx.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == want, "compacted assigned table diverged from the corpus")
    } finally {
      spark.conf.unset("graft.ivfCompactShards")
      spark.conf.unset("graft.ivfVacuumGraceMs")
    }
  }

  test("index-write shard sizing: bytes-derived with the historical floors") {
    // floors hold at test scale (unchanged committed layouts)...
    assert(IvfStore.indexShards(spark, 0L, 32) == 32)
    assert(IvfStore.indexShards(spark, 10L << 20, 32) == 32)
    assert(IvfStore.indexShards(spark, 1L << 20, 4) == 4)
    // ...and the count follows bytes past them: ~one shard per 128 MiB
    assert(IvfStore.indexShards(spark, 32L * (128L << 20), 32) == 32)
    assert(IvfStore.indexShards(spark, 100L * (128L << 20), 32) == 100)
    // a 100 TB corpus: ~800k shards of 128 MiB, not 32 of 3 TB
    assert(IvfStore.indexShards(spark, 100L << 40, 32) == 819200)
    // configurable target, runaway cap
    spark.conf.set("graft.ivfShardTargetBytes", (1L << 30).toString)
    try assert(IvfStore.indexShards(spark, 100L << 30, 32) == 100)
    finally spark.conf.unset("graft.ivfShardTargetBytes")
    assert(IvfStore.indexShards(spark, Long.MaxValue / 4, 32) == (1 << 20))
  }

  test("cache roots keep their historical <prefix>-<name>-<hex(abs path hash)> paths") {
    // the stress harness's built-detection and perfbench's pipeline find
    // the persisted indexes at these paths; a changed key would only
    // surface as a silent rebuild
    val key = s"${new File(d).getName}-" +
      Integer.toHexString(new File(d).getAbsolutePath.hashCode)
    def cache(prefix: String) = s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft-kv-cache/v${graft.kv.KvStore.FormatVersion}-$prefix-$key"
    assert(IvfStore.indexRoot(d) == cache("ivf"))
    assert(IvfStore.stagedRoot(d) == cache("ivfinc"))
    assert(IvfStore.streamRoot(d) == cache("ivfstream"))
    assert(IvfKvStore.indexRoot(d) == cache("ivfkv"))
    assert(IvfKvStore.stagedRoot(d) == cache("ivfkvinc"))
    assert(IvfKvStore.dmlStagedRoot(d) == cache("ivfkvdml"))
    assert(IvfKvStore.selfMaintStagedRoot(d) == cache("ivfkvsm"))
    val docs = Tables.documents(spark, d)
    assert(Bm25Store.buildIfAbsent(spark, d, "full", docs) ==
      (cache("bm25-full-postings"), cache("bm25-full-dl")))
    assert(LshStore.buildIfAbsent(spark, d, "full", docs) ==
      (cache("lsh-full-bands"), cache("lsh-full-shingles")))
  }
}
