package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions.col

/** The persisted LSH index (q130/q131): equivalence to the in-session
  * sketch pipeline, frontier maintenance, and band-bucket prefix
  * seeks. */
class LshStoreSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "inter", "un").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("persisted-index pairs (q130) are bit-identical to the direct sketch (q46)") {
    assert(rows(LshStore.q130LshPersisted.fn(spark, d)) ==
      rows(Dedup.q46MinhashMd5.fn(spark, d)))
  }

  test("incrementally-maintained index (q131) matches too, and re-ensure is a no-op") {
    assert(rows(LshStore.q131LshIncremental.fn(spark, d)) ==
      rows(Dedup.q46MinhashMd5.fn(spark, d)))
    val (bDir, lDir) = LshStore.buildIfAbsent(spark, d, "inc", fail("already built"))
    assert(LshStore.ensureIndexed(spark, d, bDir, lDir) == 0L,
      "a fresh index must not re-sketch anything")
  }

  test("frontier maintenance sketches exactly the unseen tail, once") {
    val bDir = Files.createTempDirectory("lsh-spec-bands").toString
    val lDir = Files.createTempDirectory("lsh-spec-shingles").toString
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val cut = (n * 9) / 10
    LshStore.writeIndex(spark, docs.filter(col("doc_id") < cut),
      bDir, lDir, "overwrite")
    assert(LshStore.ensureIndexed(spark, d, bDir, lDir) == n - cut,
      "first maintenance must sketch exactly the tail past the frontier")
    assert(LshStore.ensureIndexed(spark, d, bDir, lDir) == 0L,
      "second maintenance must be a no-op")
    assert(rows(LshStore.pairs(spark, bDir, lDir)) ==
      rows(Dedup.q46MinhashMd5.fn(spark, d)),
      "the appended index must be indistinguishable from a full build")
  }

  test("streaming maintenance (q134): drained index ≡ direct sketch, replay is a no-op") {
    assert(rows(LshStore.q134LshStream.fn(spark, d)) ==
      rows(Dedup.q46MinhashMd5.fn(spark, d)),
      "the stream-maintained sketch index must be indistinguishable from a full build")
    // lost-checkpoint worst case: every staged batch re-delivered
    // against the drained index must be absorbed by the bands frontier
    val dir = KvQueries.incDocsDir(spark, d)
    val (bDir, lDir) = (s"$dir-lshs-bands", s"$dir-lshs-shingles")
    val staged = spark.read.format("graft-kv")
      .option("catalog", KvQueries.docsIncCatalogJson).option("path", dir).load()
    assert(LshStore.maintainBatch(spark, staged, bDir, lDir) == 0L,
      "replayed batches past a drained index must append nothing")
    assert(rows(LshStore.pairs(spark, bDir, lDir)) ==
      rows(Dedup.q46MinhashMd5.fn(spark, d)),
      "a replay must not change the pair relation")
  }

  test("a doc's candidate lookup rides band-bucket prefix seeks") {
    val (bDir, _) = LshStore.buildIfAbsent(spark, d, "full",
      Tables.documents(spark, d))
    // the probe doc's 8 band keys, read back from the index itself
    val probeDoc = 7L
    val buckets = LshStore.bandsRead(spark, bDir)
      .filter(col("doc_id") === probeDoc)
      .select("band", "bkey").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(buckets.length == 8, s"doc $probeDoc must sit in 8 bands")
    val hits = LshStore.bucketLookup(spark, bDir, buckets)
    val members = hits.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(members.contains(probeDoc), "the probe doc must be in its own buckets")
    // the 8-bucket union spans all bands (prefixes 0|..7|) and so can
    // touch every shard; the pruning claim is per BUCKET — one
    // (band, bkey) prefix must plan a narrow key range
    val one = LshStore.bucketLookup(spark, bDir, buckets.take(1))
    one.collect()
    // a driver read or a distributed one, the scan reports its pruning
    assert(graft.sources.PlannedKvScan(one).metric("kvShardsPrunedKeyRange") > 0,
      "a single-bucket lookup must prune band shards by key range")
  }
}
