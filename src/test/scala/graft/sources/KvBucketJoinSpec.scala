package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.kv.{BytesCodec, KvBuckets, KvCompactor, KvShardMeta, KvStore}
import org.apache.spark.sql.types.LongType

/** Bucketed tables → storage-partitioned joins: shard bucket tagging on
  * write, `KeyGroupedPartitioning` reporting on scan, shuffle-free join
  * plans between co-bucketed tables, and the invariants that keep the
  * co-location true across maintenance (compaction, DELETE). */
class KvBucketJoinSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft-bucket-wh").toString

  private lazy val ready: Unit = {
    spark.conf.set("spark.sql.catalog.bkt", classOf[KvSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.bkt.warehouse", wh)
    // the one switch storage-partitioned joins sit behind
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }
  private def sql(q: String) = { ready; spark.sql(q) }

  private def makePair(): Unit = {
    sql("""CREATE TABLE bkt.default.fact_a (id BIGINT, qty DOUBLE)
          |TBLPROPERTIES ('rowkey'='id', 'buckets'='8')""".stripMargin)
    sql("""CREATE TABLE bkt.default.fact_b (id BIGINT, price DOUBLE)
          |TBLPROPERTIES ('rowkey'='id', 'buckets'='8')""".stripMargin)
    sql("INSERT INTO bkt.default.fact_a SELECT id, CAST(id % 7 AS DOUBLE) " +
      "FROM range(0, 1000)")
    sql("INSERT INTO bkt.default.fact_b SELECT id, CAST(id % 11 AS DOUBLE) " +
      "FROM range(0, 1000, 2)") // every second key: joins hit half
  }
  private lazy val pairReady: Unit = makePair()

  /** Does the shard's [minKey, maxKey] span the key? */
  private def covers(s: KvShardMeta, id: Long): Boolean = {
    val k = BytesCodec.encodeKey(LongType, id)
    BytesCodec.compareKeys(s.minKey, k) <= 0 && BytesCodec.compareKeys(k, s.maxKey) <= 0
  }

  test("writes tag every shard with its rowkey bucket") {
    pairReady
    val shards = KvStore.readMeta(s"$wh/default/fact_a").shards
    assert(shards.nonEmpty && shards.forall(s => s.bucket >= 0 && s.bucket < 8))
    // tag must MATCH the shared hash for every key in the shard: read
    // each shard's rows via the _shard metadata column and re-hash
    val byShard = sql("SELECT _shard, id FROM bkt.default.fact_a").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val tagOf = shards.map(s => s.file -> s.bucket).toMap
    byShard.foreach { case (file, ids) =>
      ids.foreach { id =>
        assert(KvBuckets.ofValue(LongType, id, 8) == tagOf(file),
          s"key $id landed in shard $file tagged ${tagOf(file)}")
      }
    }
  }

  test("co-bucketed join runs with NO shuffle and correct rows") {
    pairReady
    val df = sql(
      """SELECT a.id, a.qty, b.price FROM bkt.default.fact_a a
        |JOIN bkt.default.fact_b b ON a.id = b.id""".stripMargin)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"storage-partitioned join must elide both exchanges, got:\n$plan")
    assert(df.count() == 500)
    // values: every even id under 1000 pairs its qty/price
    val row = df.where("id = 42").collect().head
    assert(row.getDouble(1) == (42 % 7).toDouble && row.getDouble(2) == (42 % 11).toDouble)
  }

  test("point lookups prune to the key's bucket; spans never bucket-prune") {
    pairReady
    val dir = s"$wh/default/fact_a"
    val shards = KvStore.readMeta(dir).shards
    // bucket pruning runs AFTER key-range pruning, so it counts only the
    // range-surviving shards whose tag differs from the key's bucket
    val target = KvBuckets.ofValue(LongType, 123L, 8)
    val exp1 = shards.count(s => covers(s, 123L) && s.bucket != target)
    assert(exp1 > 0, "vacuity guard: need range-surviving shards in other buckets")

    val one = sql("SELECT id, qty FROM bkt.default.fact_a WHERE id = 123")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(123L))
    val m1 = PlannedKvScan(one).metric("kvShardsPrunedBucket")
    assert(m1 == exp1,
      s"a point lookup must plan only the key's bucket (pruned $m1, expected $exp1)")

    // IN plans the union of the keys' buckets — and stays correct
    val keys = Seq(123L, 456L, 789L)
    val in = sql(s"SELECT id FROM bkt.default.fact_a WHERE id IN (${keys.mkString(",")})")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == keys)
    val wanted = keys.map(KvBuckets.ofValue(LongType, _, 8)).toSet
    val exp2 = shards.count(s => keys.exists(covers(s, _)) && !wanted.contains(s.bucket))
    val m2 = PlannedKvScan(in).metric("kvShardsPrunedBucket")
    assert(m2 == exp2,
      s"IN must plan only the union of the keys' buckets (pruned $m2, expected $exp2)")

    // pushed aggregates ride the same base-scan shard selection, so a
    // point-lookup count prunes identically
    val agg = sql("SELECT count(*) AS n FROM bkt.default.fact_a WHERE id = 123")
    assert(agg.collect().head.getLong(0) == 1L)
    val aggLeaf = agg.queryExecution.executedPlan.collectLeaves().head
    // (the stats fast path may answer from a LocalTableScan with no
    // custom metrics; when the real agg scan ran, it must have pruned)
    aggLeaf.metrics.get("kvShardsPrunedBucket").foreach { m =>
      assert(m.value == exp1,
        "pushed-agg point lookup must bucket-prune like the row scan")
    }

    // a RANGE predicate spans keys that hash anywhere — bucket pruning
    // must stand down entirely (soundness, not a missed optimization)
    val rng = sql("SELECT id FROM bkt.default.fact_a WHERE id >= 990 AND id < 1000")
    assert(rng.collect().length == 10)
    assert(PlannedKvScan(rng).metric("kvShardsPrunedBucket") == 0L,
      "a key span must never be bucket-pruned")
  }

  test("a point-filtered STREAM over a bucketed table prunes and stays exact") {
    pairReady
    import org.apache.spark.sql.functions.col
    // tail fact_a's table dir through the path API with its catalog json
    val catJson =
      """{"table":{"name":"fact_a"},"rowkey":"id",
        |"buckets": 8,
        |"columns":{"id":{"cf":"rowkey","col":"id","type":"long"},
        |           "qty":{"cf":"c","col":"qty","type":"double"}}}""".stripMargin
    val dir = s"$wh/default/fact_a"
    val q = spark.readStream.format("graft-kv")
      .option("catalog", catJson).option("path", dir).load()
      .filter(col("id").isin(123L, 456L))
      .writeStream.outputMode("append").format("memory")
      .queryName("bkt_stream_points").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bkt_stream_points").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(123L, 456L),
        "point-filtered stream must deliver exactly the filtered keys")
    } finally q.stop()
  }

  test("join against an UNBUCKETED table falls back to a shuffle, correctly") {
    pairReady
    sql("CREATE TABLE bkt.default.plain (id BIGINT, tag STRING) TBLPROPERTIES ('rowkey'='id')")
    sql("INSERT INTO bkt.default.plain SELECT id, CAST(id AS STRING) FROM range(0, 100)")
    val df = sql(
      """SELECT a.id, p.tag FROM bkt.default.fact_a a
        |JOIN bkt.default.plain p ON a.id = p.id""".stripMargin)
    assert(df.count() == 100) // correctness first; the plan may shuffle or broadcast
  }

  test("compaction merges only within a bucket and keeps the join shuffle-free") {
    pairReady
    // several small appends → many small shards per bucket
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO bkt.default.fact_a SELECT id, CAST(id AS DOUBLE) " +
        s"FROM range(${1000 + i * 10}, ${1010 + i * 10})")
    }
    val dir = s"$wh/default/fact_a"
    assert(KvCompactor.compact(dir, 64L << 20) > 0, "compaction should merge something")
    val after = KvStore.readMeta(dir).shards
    assert(after.forall(s => s.bucket >= 0 && s.bucket < 8),
      "compacted outputs must keep their bucket tag")
    // every merged shard still holds exactly one bucket's keys
    val tagOf = after.map(s => s.file -> s.bucket).toMap
    sql("SELECT _shard, id FROM bkt.default.fact_a").collect().foreach { r =>
      assert(KvBuckets.ofValue(LongType, r.getLong(1), 8) == tagOf(r.getString(0)))
    }
    val df = sql(
      """SELECT a.id, b.price FROM bkt.default.fact_a a
        |JOIN bkt.default.fact_b b ON a.id = b.id""".stripMargin)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString().contains("Exchange"),
      "join must stay exchange-free after compaction")
    // point lookups keep bucket-pruning (and exactness) over the MERGED
    // shards — compaction preserves the tag the pruning keys on
    val pt = sql("SELECT id FROM bkt.default.fact_a WHERE id IN (1005, 1025)")
    assert(pt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1005L, 1025L))
    assert(PlannedKvScan(pt).metric("kvShardsPrunedBucket") > 0,
      "bucket pruning must still engage on compacted shards")
  }

  test("DELETE preserves bucket tags; the SPJ plan survives") {
    pairReady
    sql("DELETE FROM bkt.default.fact_b WHERE id >= 900")
    val shards = KvStore.readMeta(s"$wh/default/fact_b").shards
    assert(shards.forall(s => s.bucket >= 0 && s.bucket < 8))
    val df = sql(
      """SELECT a.id FROM bkt.default.fact_a a
        |JOIN bkt.default.fact_b b ON a.id = b.id""".stripMargin)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString().contains("Exchange"))
    assert(df.count() == 450)
  }

  test("point UPDATE/DELETE rewrite only the key's bucket, matching an unbucketed twin") {
    sql("""CREATE TABLE bkt.default.dml_b (id BIGINT, qty DOUBLE)
          |TBLPROPERTIES ('rowkey'='id', 'buckets'='8')""".stripMargin)
    sql("CREATE TABLE bkt.default.dml_p (id BIGINT, qty DOUBLE) TBLPROPERTIES ('rowkey'='id')")
    Seq("dml_b", "dml_p").foreach(t =>
      sql(s"INSERT INTO bkt.default.$t SELECT id, CAST(id % 7 AS DOUBLE) FROM range(0, 1000)"))
    val dir = s"$wh/default/dml_b"
    val target = KvBuckets.ofValue(LongType, 123L, 8)
    def otherBuckets(shards: Seq[KvShardMeta]): Set[String] =
      shards.filter(_.bucket != target).map(_.file).toSet
    val before = KvStore.readMeta(dir).shards
    assert(before.exists(s => s.bucket != target && covers(s, 123L)),
      "vacuity guard: need range-surviving shards in other buckets")

    Seq("dml_b", "dml_p").foreach(t =>
      sql(s"UPDATE bkt.default.$t SET qty = -1.0 WHERE id = 123"))
    val after = KvStore.readMeta(dir).shards
    val replaced = before.filterNot(s => after.exists(_.file == s.file))
    assert(replaced.nonEmpty && replaced.forall(_.bucket == target),
      s"a point UPDATE may replace only bucket $target's shards, replaced " +
        replaced.map(s => s"${s.file}@${s.bucket}").mkString(", "))
    assert(otherBuckets(after) == otherBuckets(before),
      "other buckets' shard files must be untouched")

    // the pushable DELETE path selects shards by the same rule
    Seq("dml_b", "dml_p").foreach(t =>
      sql(s"DELETE FROM bkt.default.$t WHERE id IN (5, 123, 777)"))
    def rows(t: String): Seq[(Long, Double)] =
      sql(s"SELECT id, qty FROM bkt.default.$t").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val got = rows("dml_b")
    assert(got.length == 997 && !got.exists(_._1 == 123L))
    assert(got == rows("dml_p"), "bucketed DML must leave the unbucketed twin's rows")
    assert(KvStore.readMeta(dir).shards.forall(s => s.bucket >= 0 && s.bucket < 8))
  }

  // path-API catalog over fact_a's dir with a chosen bucket count — the
  // drift scenario is a catalog edit the table files never saw
  private def pathCatalog(buckets: Int): String =
    s"""{"table":{"name":"fact_a"},"rowkey":"id",
       |"buckets": $buckets,
       |"columns":{"id":{"cf":"rowkey","col":"id","type":"long"},
       |           "qty":{"cf":"c","col":"qty","type":"double"}}}""".stripMargin

  test("a catalog bucket-count edit never drops point-lookup rows (modulus gate)") {
    pairReady
    val dir = s"$wh/default/fact_a"
    // a key whose bucket DIFFERS between the write-time modulus (8) and
    // the edited catalog's (16): without the bucketMod gate, pruning by
    // hash(key) mod 16 would drop the shard that holds it under mod 8
    val key = (0L until 1000L).find(k =>
      KvBuckets.ofValue(LongType, k, 8) != KvBuckets.ofValue(LongType, k, 16)).get
    def read(buckets: Int) = spark.read.format("graft-kv")
      .option("catalog", pathCatalog(buckets)).option("path", dir).load()

    val drifted = read(16).where(s"id = $key")
    assert(drifted.collect().map(_.getLong(0)).toSeq == Seq(key),
      s"point lookup of $key must survive a catalog bucket edit 8->16")
    assert(PlannedKvScan(drifted).metric("kvShardsPrunedBucket") == 0L,
      "a modulus mismatch must disable bucket pruning, not misapply it")

    // matching modulus on the same path-API catalog still prunes
    val matched = read(8).where(s"id = $key")
    assert(matched.collect().map(_.getLong(0)).toSeq == Seq(key))
    assert(PlannedKvScan(matched).metric("kvShardsPrunedBucket") > 0L,
      "vacuity guard: the matching-modulus read must still bucket-prune")

    // the streaming per-shard prune honors the same gate
    import org.apache.spark.sql.functions.col
    val q = spark.readStream.format("graft-kv")
      .option("catalog", pathCatalog(16)).option("path", dir).load()
      .filter(col("id") === key)
      .writeStream.outputMode("append").format("memory")
      .queryName("bkt_drift_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bkt_drift_stream").select("id")
        .collect().map(_.getLong(0)).toSeq == Seq(key),
        "a drifted-catalog stream must deliver the key, not silently drop it")
    } finally q.stop()
  }

  test("bucketPointPrune=false disables pruning on the pushed-aggregate path too") {
    pairReady
    val dir = s"$wh/default/fact_a"
    def agg(hatch: Boolean) = {
      val df = spark.read.format("graft-kv")
        .option("catalog", pathCatalog(8)).option("path", dir)
        .option("bucketPointPrune", hatch.toString).load()
        .where("id = 123").agg(org.apache.spark.sql.functions.sum("qty"))
      df.collect()
      // a point aggregate this small folds on the driver: the counter
      // lives on the scan object
      val planned = PlannedKvScan(df)
      assert(planned.isDriver && planned.isAggregate, planned.scan.description())
      planned.metric("kvShardsPrunedBucket")
    }
    assert(agg(hatch = true) > 0L, "vacuity guard: hatch-on pushed agg must bucket-prune")
    assert(agg(hatch = false) == 0L,
      "the escape hatch must be honored on the pushed-aggregate scan shape")
  }

  test("a runtime IN-set (DPP) bucket-prunes shards, not just ranges") {
    pairReady
    val dir = s"$wh/default/fact_a"
    val shards = KvStore.readMeta(dir).shards
    val keys = Seq(123L, 456L)
    val wanted = keys.map(KvBuckets.ofValue(LongType, _, 8)).toSet
    // hash-bucketed shards span most of the keyspace, so range pruning
    // alone must leave wrong-bucket shards for bucket pruning to drop
    val inRange = shards.filter(s => keys.exists(covers(s, _)))
    val expectedSurvivors = inRange.count(s => wanted.contains(s.bucket))
    assert(inRange.length > expectedSurvivors,
      "vacuity guard: need range-surviving shards in other buckets")

    // build side known only at runtime — Spark injects a dynamic
    // pruning IN-set through SupportsRuntimeFiltering. The build filters
    // a NON-key column (bid = 3·n): a filter on `bid` itself would reach
    // the fact side at plan time as a static point lookup
    // (InferFiltersFromConstraints), leaving no runtime filter to test.
    import org.apache.spark.sql.functions.{broadcast, col}
    val build = spark.range(0, 1000).select((col("id") * 3L).as("bid"), col("id").as("n"))
      .filter(col("n").isin(keys.map(_ / 3): _*)) // both keys are multiples of 3
    val fact = spark.read.format("graft-kv")
      .option("catalog", pathCatalog(8)).option("path", dir).load()
    val joined = fact.join(broadcast(build), col("id") === col("bid"))
      .select(col("id"), col("qty"))
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == keys)

    val planned = PlannedKvScan(joined)
    assert(planned.exec.exists(_.runtimeFilters.nonEmpty),
      s"expected a runtime filter on the KV scan:\n${joined.queryExecution.executedPlan}")
    assert(planned.kv.planInputPartitions().length == expectedSurvivors,
      "the runtime IN-set must prune by bucket tag, not only by key range")
    assert(planned.metric("kvShardsPrunedBucket") > 0L,
      "bucket pruning under a runtime filter must surface in the scan metrics")
  }

  test("bucket function evaluates through SQL and matches KvBuckets") {
    ready
    val viaSql = spark.sql("SELECT bkt.bucket(8, CAST(123456 AS BIGINT))")
      .collect().head.getInt(0)
    assert(viaSql == KvBuckets.ofValue(LongType, 123456L, 8))
  }
}
