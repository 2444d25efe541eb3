package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-shard bloom sidecars: executor-side point-predicate shard
  * skipping where zone maps can't prune ([[graft.kv.KvBloom]]). */
class KvBloomSpec extends SparkSpec {

  private val catJson =
    """{"table":{"name":"bloomt"},"rowkey":"k","columns":{""" +
      """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
      """"uid":{"cf":"f","col":"u","type":"string"},""" +
      """"v":{"cf":"f","col":"v","type":"long"}}}"""

  /** uid is HIGH-CARDINALITY and uniform across the key range: every
    * shard's (min, max) uid bounds span ~the whole domain, so zone maps
    * can never prune an EqualTo on it — exactly bloom territory. */
  private def writeTable(dir: String, n: Long = 4000L, shards: Int = 8): Unit = {
    import spark.implicits._
    (1L to n).map(k => (k, s"uid-${(k * 2654435761L) % 1000000007L}", k * 3))
      .toDF("k", "uid", "v")
      .repartitionByRange(shards, col("k"))
      .write.format("graft-kv").option("catalog", catJson).option("path", dir)
      .option("bloomColumns", "uid").option("bloomBits", "65536")
      .mode("overwrite").save()
  }

  private def kv(dir: String): DataFrame =
    spark.read.format("graft-kv").option("catalog", catJson).option("path", dir).load()

  test("write emits sidecars; EqualTo on an absent uid skips every shard") {
    val dir = Files.createTempDirectory("graft-kv-bloom").toString
    writeTable(dir)
    val metas = graft.kv.KvStore.readMeta(dir).shards
    assert(metas.length == 8 && metas.forall(_.bloom.nonEmpty))
    assert(metas.forall(s => new java.io.File(s"$dir/${s.bloom}").exists()))

    // absent value STRICTLY INSIDE every shard's bounds: a present uid
    // with a suffix sorts between it and the shard max, so zone maps
    // keep every shard — only the bloom can answer
    val absentUid = s"uid-${(2000L * 2654435761L) % 1000000007L}zz"
    val miss = kv(dir).filter(col("uid") === absentUid)
    assert(miss.collect().isEmpty)
    val scan = PlannedKvScan(miss)
    assert(scan.metric("kvShardsPrunedZoneMap") == 0L,
      "probe must defeat zone maps so the bloom is the pruner under test")
    assert(scan.metric("kvShardsSkippedBloom") == 8L,
      s"all shards must bloom-skip, got ${scan.metric("kvShardsSkippedBloom")}")
    assert(scan.metric("kvBytesRead") == 0L,
      "a definite miss must not open a single shard file")

    // present value: found, and its home shard was NOT skipped
    val uid77 = s"uid-${(77L * 2654435761L) % 1000000007L}"
    val hit = kv(dir).filter(col("uid") === uid77)
    assert(hit.collect().map(_.getAs[Long]("k")).toSeq == Seq(77L))
  }

  test("fuzz: bloom pruning never loses a row (zero false negatives)") {
    val dir = Files.createTempDirectory("graft-kv-bloomfz").toString
    writeTable(dir, n = 2000L, shards = 4)
    val rnd = new scala.util.Random(11)
    val expect = (1L to 2000L).map(k => s"uid-${(k * 2654435761L) % 1000000007L}" -> k).toMap
    (1 to 60).foreach { _ =>
      val probe =
        if (rnd.nextBoolean()) s"uid-${(rnd.between(1L, 2001L) * 2654435761L) % 1000000007L}"
        else s"uid-${(rnd.between(1L, 2001L) * 2654435761L) % 1000000007L}x${rnd.nextInt(10)}" // in-bounds, absent
      val got = kv(dir).filter(col("uid") === probe).collect().map(_.getAs[Long]("k"))
      expect.get(probe) match {
        case Some(k) => assert(got.toSeq == Seq(k), s"probe $probe lost its row")
        case None => assert(got.isEmpty)
      }
    }
    // IN over mixed present/absent literals keeps exactly the present rows
    val in = kv(dir).filter(col("uid").isin(
      s"uid-${(5L * 2654435761L) % 1000000007L}",
      s"uid-${(9L * 2654435761L) % 1000000007L}xx",
      s"uid-${(1500L * 2654435761L) % 1000000007L}",
      s"uid-${(7L * 2654435761L) % 1000000007L}yy"))
    assert(in.collect().map(_.getAs[Long]("k")).sorted.toSeq == Seq(5L, 1500L))
  }

  test("runtime JOIN filter consults bloom sidecars and skips non-holder shards") {
    val dir = Files.createTempDirectory("graft-kv-bloomdpp").toString
    writeTable(dir) // 8 range shards, uid bloom sidecars
    // build side: a SELECTIVELY FILTERED parquet scan — its key set is
    // only known at runtime, so the scan can't plan the skip statically;
    // PartitionPruning must hand the IN-set to KvScan.filter and the
    // executor-side bloom check does the rest
    val pq = Files.createTempDirectory("graft-kv-bloomdpp-pq").toString
    import spark.implicits._
    (1L to 2000L).map(k => (s"uid-${(k * 2654435761L) % 1000000007L}", k % 997))
      .toDF("buid", "tag").write.mode("overwrite").parquet(pq)
    val build = spark.read.parquet(pq).filter(col("tag") === 10) // k = 10, 1007
    val joined = kv(dir).join(broadcast(build), col("uid") === col("buid"))
      .select(col("k"), col("uid"), col("v"))
    assert(joined.collect().map(_.getAs[Long]("k")).sorted.toSeq == Seq(10L, 1007L))
    val skipped = PlannedKvScan(joined).metric("kvShardsSkippedBloom")
    // k=10 and k=1007 live in two different shards; the other six hold
    // neither build uid and must bloom-skip (>=5 tolerates one false
    // positive). Zero means the runtime filter never reached the scan.
    assert(skipped >= 5L,
      s"expected >=5 bloom-skipped shards under the runtime join filter, got $skipped\n" +
        joined.queryExecution.executedPlan.toString())

    // fuzz: random build-side key sets (present and absent uids mixed)
    // — the joined row set must always equal the brute-force expectation
    // (zero false skips), whatever the bloom says per shard
    val rnd = new scala.util.Random(23)
    val uidOf = (1L to 4000L).map(k => k -> s"uid-${(k * 2654435761L) % 1000000007L}").toMap
    (1 to 10).foreach { _ =>
      val ks = Seq.fill(1 + rnd.nextInt(6))(rnd.between(1L, 4001L)).distinct
      val probes = ks.map(uidOf) ++ Seq.fill(rnd.nextInt(3))(s"uid-absent-${rnd.nextInt(100)}")
      val b = probes.toDF("buid").filter(col("buid").isNotNull) // selective predicate for DPP
      val got = kv(dir).join(broadcast(b), col("uid") === col("buid"))
        .collect().map(_.getAs[Long]("k")).sorted.toSeq
      assert(got == ks.sorted, s"join lost/invented rows for build set $probes")
    }
  }

  test("compaction unions sidecars; vacuum reclaims superseded ones") {
    val dir = Files.createTempDirectory("graft-kv-bloomc").toString
    writeTable(dir, n = 1000L, shards = 4)
    val preFiles = graft.kv.KvStore.readMeta(dir).shards.map(_.bloom)
    assert(graft.kv.KvCompactor.compact(dir, targetBytes = 1L << 30,
      retainInputs = true) == 1)
    val merged = graft.kv.KvStore.readMeta(dir).shards
    assert(merged.length == 1 && merged.head.bloom.nonEmpty,
      "merged shard must carry the unioned bloom")
    // union preserves every member: all original uids still bloom-hit
    val absent2 = s"uid-${(500L * 2654435761L) % 1000000007L}zz"
    val miss = kv(dir).filter(col("uid") === absent2)
    assert(miss.collect().isEmpty)
    assert(PlannedKvScan(miss).metric("kvShardsSkippedBloom") == 1L)
    (1L to 1000L by 97L).foreach { k =>
      val uid = s"uid-${(k * 2654435761L) % 1000000007L}"
      assert(kv(dir).filter(col("uid") === uid).count() == 1L,
        s"uid of row $k must survive the union")
    }
    // vacuum: superseded shard files AND their sidecars are reclaimed
    assert(graft.kv.KvCompactor.vacuum(dir, graceMs = -1000) > 0)
    preFiles.foreach(b => assert(!new java.io.File(s"$dir/$b").exists(),
      s"superseded sidecar $b must be vacuumed"))
    assert(kv(dir).count() == 1000L)
  }

  test("point UPDATE/DELETE rewrite only the bloom-candidate shards") {
    val dir = Files.createTempDirectory("graft-kv-bloomu").toString
    writeTable(dir, n = 1000L, shards = 4)
    spark.sql("DROP TABLE IF EXISTS graft_bloomu")
    spark.sql(s"""
      CREATE TABLE graft_bloomu USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$dir')""")
    try {
      val before = graft.kv.KvStore.readMeta(dir).shards.map(_.file).toSet
      // uid of row 600 lives in exactly one shard; zone maps keep all 4
      // (uniform uid bounds), blooms narrow the rewrite to the holder
      val uid600 = s"uid-${(600L * 2654435761L) % 1000000007L}"
      spark.sql(s"UPDATE graft_bloomu SET v = -5 WHERE uid = '$uid600'")
      val after = graft.kv.KvStore.readMeta(dir).shards.map(_.file).toSet
      assert(before.intersect(after).size == 3,
        s"only the bloom-candidate shard may be rewritten; kept ${before.intersect(after).size} of 4")
      assert(spark.table("graft_bloomu").filter(col("v") === -5)
        .collect().map(_.getAs[Long]("k")).toSeq == Seq(600L))
      // metadata DELETE path: same narrowing
      val uid300 = s"uid-${(300L * 2654435761L) % 1000000007L}"
      val preDel = graft.kv.KvStore.readMeta(dir).shards.map(_.file).toSet
      spark.sql(s"DELETE FROM graft_bloomu WHERE uid = '$uid300'")
      val postDel = graft.kv.KvStore.readMeta(dir).shards.map(_.file).toSet
      assert(preDel.intersect(postDel).size == 3,
        "bloom must confine the delete rewrite to the holder shard")
      assert(spark.table("graft_bloomu").count() == 999L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bloomu")
  }

  test("DELETE replacement shards drop the bloom (sound: unknown never prunes)") {
    val dir = Files.createTempDirectory("graft-kv-bloomd").toString
    writeTable(dir, n = 1000L, shards = 4)
    spark.sql("DROP TABLE IF EXISTS graft_bloomd")
    spark.sql(s"""
      CREATE TABLE graft_bloomd USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$dir')""")
    try {
      spark.sql("DELETE FROM graft_bloomd WHERE k <= 10")
      val metas = graft.kv.KvStore.readMeta(dir).shards
      // the rewritten shard has no sidecar; untouched shards keep theirs
      assert(metas.exists(_.bloom.isEmpty) && metas.exists(_.bloom.nonEmpty))
      assert(spark.table("graft_bloomd").count() == 990L)
      // and queries over the mixed table stay correct
      val uid500 = s"uid-${(500L * 2654435761L) % 1000000007L}"
      assert(spark.table("graft_bloomd")
        .filter(col("uid") === uid500).count() == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bloomd")
  }
}
