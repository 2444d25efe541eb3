package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions.col

/** The persisted inverted index (q127/q128): equivalence to the direct
  * pipeline, rowkey prefix-seek pruning, and frontier maintenance. */
class Bm25StoreSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("rk", "doc_id", "bm25_r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  test("persisted-index probe (q127) is bit-identical to direct BM25 (q121)") {
    assert(rows(Bm25Store.q127Bm25Persisted.fn(spark, d)) ==
      rows(TextOps.q121Bm25.fn(spark, d)))
  }

  test("incrementally-maintained index (q128) matches too, and re-ensure is a no-op") {
    assert(rows(Bm25Store.q128Bm25Incremental.fn(spark, d)) ==
      rows(TextOps.q121Bm25.fn(spark, d)))
    val (pDir, lDir) = Bm25Store.buildIfAbsent(spark, d, "inc", fail("already built"))
    assert(Bm25Store.ensureIndexed(spark, d, pDir, lDir) == 0L,
      "a fresh index must not re-tokenize anything")
  }

  test("frontier maintenance indexes exactly the unseen tail, once") {
    // spec-private staging (temp dirs, never the shared cache) so the
    // first-append assertion survives cached re-runs
    val pDir = Files.createTempDirectory("bm25-spec-postings").toString
    val lDir = Files.createTempDirectory("bm25-spec-dl").toString
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    val (p0, dl0) = Bm25Store.indexRows(docs.filter(col("doc_id") < cut))
    Bm25Store.writePostings(spark, p0, pDir, "overwrite", 4)
    Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
    assert(Bm25Store.ensureIndexed(spark, d, pDir, lDir) == n - cut,
      "first maintenance must index exactly the tail past the frontier")
    assert(Bm25Store.ensureIndexed(spark, d, pDir, lDir) == 0L,
      "second maintenance must be a no-op")
    assert(rows(Bm25Store.probe(spark, pDir, lDir,
        Seq("table", "vector", "customer", "stream"))) ==
      rows(TextOps.q121Bm25.fn(spark, d)),
      "the appended index must be indistinguishable from a full build")
  }

  test("a fresh store whose first batch is token-less skips postings, then catches up") {
    import org.apache.spark.sql.functions.lit
    val pDir = Files.createTempDirectory("bm25-spec-fresh-p").toString
    val lDir = Files.createTempDirectory("bm25-spec-fresh-l").toString
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val n = docs.count()
    // no postings rows: the postings table stays uncommitted while dl
    // commits, and the batch's self-compaction must take that in stride
    assert(Bm25Store.maintainBatch(spark,
      docs.filter(col("doc_id") < 5).withColumn("text", lit("")), pDir, lDir) == 5L)
    assert(!StreamMaint.committed(pDir) && Bm25Store.frontiers(spark, pDir, lDir) == ((4L, 4L)))
    assert(Bm25Store.maintainBatch(spark, docs.filter(col("doc_id") >= 5), pDir, lDir) == n - 5)
    assert(Bm25Store.frontiers(spark, pDir, lDir) == ((n - 1, n - 1)))
  }

  test("streaming maintenance (q132): drained index ≡ full rebuild, replay is a no-op") {
    assert(rows(Bm25Store.q132Bm25Stream.fn(spark, d)) ==
      rows(TextOps.q121Bm25.fn(spark, d)),
      "the stream-maintained index must be indistinguishable from a full build")
    // restart discipline: re-delivering every staged batch against the
    // ALREADY-DRAINED index (a lost checkpoint, the worst replay case)
    // must append nothing — the frontier filter absorbs the replay
    val dir = KvQueries.incDocsDir(spark, d)
    val (pDir, lDir) = (s"$dir-bm25s-postings", s"$dir-bm25s-dl")
    val staged = spark.read.format("graft-kv")
      .option("catalog", KvQueries.docsIncCatalogJson).option("path", dir).load()
    assert(Bm25Store.maintainBatch(spark, staged, pDir, lDir) == 0L,
      "replayed batches past a drained index must be absorbed by the frontier")
    assert(rows(Bm25Store.probe(spark, pDir, lDir,
        Seq("table", "vector", "customer", "stream"))) ==
      rows(TextOps.q121Bm25.fn(spark, d)),
      "a replay must not change the probe result")
  }

  test("a term fetch rides rowkey prefix seeks, not a postings scan") {
    val (pDir, _) = Bm25Store.buildIfAbsent(spark, d, "full",
      Tables.documents(spark, d))
    // the exact postings-side read the probe issues (same pushed
    // filter); a driver read or a distributed one, the scan reports it
    val one = Bm25Store.postingsRead(spark, pDir, Seq("vector"))
    val n = one.count()
    assert(n > 0, "term 'vector' must have postings")
    one.collect()
    val pruned = graft.sources.PlannedKvScan(one).metric("kvShardsPrunedKeyRange")
    assert(pruned > 0,
      s"a single-term fetch must prune postings shards by key range (pruned=$pruned)")
  }
}
