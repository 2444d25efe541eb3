package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.kv.KvStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver reads ([[KvDriverScan]]): a rowkey-bounded read over shards
  * within the one-reader budget is answered at planning time, so
  * `collect()` launches no Spark job, and it returns exactly what the
  * distributed read returns. */
class KvLocalScanSpec extends SparkSpec {

  private def catJson(name: String, buckets: Int = 0) =
    s"""{"table":{"name":"$name"},"rowkey":"k",""" +
      (if (buckets > 0) s""""buckets":$buckets,""" else "") +
      """"columns":{"k":{"cf":"rowkey","col":"k","type":"long"},""" +
      """"uid":{"cf":"f","col":"u","type":"string"},""" +
      """"v":{"cf":"f","col":"v","type":"long"}}}"""

  private type Rec = (Long, String, Long)

  private def append(dir: String, cat: String, recs: Seq[Rec], shards: Int): Unit = {
    import spark.implicits._
    recs.toDF("k", "uid", "v").repartitionByRange(shards, col("k"))
      .write.format("graft-kv").option("catalog", cat).option("path", dir)
      .option("bloomColumns", "uid").mode("append").save()
  }

  private def read(dir: String, cat: String, opts: (String, String)*): DataFrame =
    spark.read.format("graft-kv").option("catalog", cat).option("path", dir)
      .options(opts.toMap).load()

  private def recs(df: DataFrame): Seq[Rec] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted

  private def isIn(keys: Seq[Long]) = col("k").isin(keys: _*)

  test("point lookups collect with zero Spark jobs and keep the pruning counters") {
    val dir = Files.createTempDirectory("graft-kv-local0").toString
    val cat = catJson("local0")
    append(dir, cat, (1L to 4000L).map(k => (k, s"u$k", k * 3)), shards = 8)
    // (shape, filter, matching keys, planned key ranges)
    val cases = Seq[(String, DataFrame => DataFrame, Seq[Long], Long)](
      ("=", _.filter(col("k") === 77L), Seq(77L), 1L),
      ("IN", _.filter(isIn(Seq(5L, 1500L, 3999L, 4200L))), Seq(5L, 1500L, 3999L), 4L),
      ("OR of =", _.filter(col("k") === 5L || col("k") === 2000L), Seq(5L, 2000L), 2L),
      ("provably empty", _.filter(col("k") > 500L && col("k") < 400L), Nil, 0L))
    cases.foreach { case (what, shape, want, ranges) =>
      val df = shape(read(dir, cat))
      var got: Seq[Rec] = Nil
      assert(jobsOf { got = recs(df) } == 0, s"$what: collect() must launch no job")
      assert(got == want.map(k => (k, s"u$k", k * 3)), s"$what: rows")
      val planned = PlannedKvScan(df)
      assert(planned.isDriver, s"$what: planned ${planned.scan}")
      assert(planned.metric("kvShardsTotal") == 8L)
      assert(planned.metric("kvShardsPrunedKeyRange") == 8L - planned.kv.planInputPartitions().length)
      assert(planned.metric("kvKeyRangesPlanned") == ranges)
      // EXPLAIN names the reader that serves the rows: the driver read
      // uses the row reader even for a columnar-eligible schema
      assert(planned.scan.description().contains("Columnar: false"),
        s"$what: ${planned.scan.description()}")
    }
    // the read counters land on the scan object: IN(5,1500,3999) decodes
    // exactly its three in-range records
    val in = read(dir, cat).filter(isIn(Seq(5L, 1500L, 3999L)))
    in.collect()
    assert(PlannedKvScan(in).metric("kvRecordsRead") == 3L)
    assert(PlannedKvScan(in).metric("kvBytesRead") > 0L)
    // an absent uid beside the key: the bloom gate skips the shard
    // without opening it, on the driver as on an executor
    val bloomMiss = read(dir, cat).filter(col("k") === 77L && col("uid") === "u77-absent")
    assert(bloomMiss.collect().isEmpty)
    assert(PlannedKvScan(bloomMiss).metric("kvShardsSkippedBloom") == 1L)
    assert(PlannedKvScan(bloomMiss).metric("kvBytesRead") == 0L)
  }

  test("bounded reads within the one-reader budget run no job; past it, one task per shard") {
    val dir = Files.createTempDirectory("graft-kv-local1").toString
    val cat = catJson("local1")
    val n = KvScan.MaxShardRows + 20000L
    spark.range(0L, n).select(col("id").as("k"), concat(lit("u"), col("id")).as("uid"),
        (col("id") * 3L).as("v"))
      .repartitionByRange(4, col("k"))
      .write.format("graft-kv").option("catalog", cat).option("path", dir)
      .mode("append").save()
    def minKey(s: graft.kv.KvShardMeta): Long = graft.kv.BytesCodec
      .decodeKey(org.apache.spark.sql.types.LongType, s.minKey).asInstanceOf[Long]
    val shards = KvStore.readMeta(dir).shards.sortBy(minKey)
    assert(shards.length == 4)
    assert(!KvScan.withinOneTask(dir, shards.map(KvInputPartition(_))) &&
      KvScan.withinOneTask(dir, shards.take(3).map(KvInputPartition(_))), "vacuity guard")
    def collected(df: DataFrame): (Int, Int) = {
      var n = 0
      val jobs = jobsOf { n = df.collect().length }
      (n, jobs)
    }
    // EXPLAIN's marker names the read mode the plan took
    def isDriver(df: DataFrame): Boolean = {
      val planned = PlannedKvScan(df)
      val marker = KvScan.readMode(planned.isDriver)
      assert(planned.scan.description().contains(marker), planned.scan.description())
      assert(df.queryExecution.executedPlan.toString.contains(marker),
        df.queryExecution.executedPlan.toString)
      planned.isDriver
    }
    // one key per shard: every shard survives, past the row budget
    val over = read(dir, cat).filter(isIn(shards.map(minKey)))
    val (nOver, jobsOver) = collected(over)
    assert(nOver == 4 && jobsOver > 0, "an IN past the row budget stays distributed")
    assert(!isDriver(over))
    // three of the four shards fit the budget: the same shape goes local
    val under = read(dir, cat).filter(isIn(shards.take(3).map(minKey)))
    assert(collected(under) == ((3, 0)))
    assert(isDriver(under))
    // a key span reads on the driver too: its output is bounded by the
    // surviving shards' rows, which the budget bounds
    val range = read(dir, cat).filter(col("k") >= 10L && col("k") <= 20L)
    assert(collected(range) == ((11, 0)))
    assert(isDriver(range))
    assert(PlannedKvScan(range).scan.description().contains("Read: driver, Columnar: false"))
    val top3 = minKey(shards(3)) - 1L
    // the shapes above the rows: an ASC limit, a DESC top-N, a get
    // under a reordering projection, a residual filter Spark cannot push
    val shapes = Seq[(String, DataFrame, Seq[Long])](
      ("ASC limit", read(dir, cat).filter(col("k") <= top3).orderBy(col("k")).limit(5)
        .select("k"), 0L to 4L),
      ("DESC top-N", read(dir, cat).filter(col("k") <= top3).orderBy(col("k").desc).limit(4)
        .select("k"), (top3 - 3L to top3).reverse),
      ("reordering projection", read(dir, cat).filter(col("k") === 77L).select("v", "k"),
        Seq(77L * 3L)),
      ("residual filter", read(dir, cat).filter(col("k").between(100L, 200L) &&
        col("v") % 7L === 0L).select("k"), (100L to 200L).filter(k => k * 3L % 7L == 0L)))
    shapes.foreach { case (what, df, want) =>
      var got: Seq[Long] = Nil
      assert(jobsOf { got = df.collect().map(_.getLong(0)).toSeq } == 0, s"$what: jobs")
      assert(got == want, s"$what: rows")
      assert(isDriver(df), what)
      assert(df.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.LocalTableScanExec],
        s"$what: one LocalTableScan\n${df.queryExecution.executedPlan}")
    }
    // a projection the strategy cannot fold (nondeterministic) plans as
    // Spark's own operator over the driver read, which EXPLAIN still names
    val nondet = read(dir, cat).filter(col("k").between(10L, 20L)).select(col("k"), rand(7L))
    assert(nondet.collect().map(_.getLong(0)).sorted.toSeq == (10L to 20L))
    assert(isDriver(nondet))
    // past the budget the same shapes keep their distributed plans
    val wide = read(dir, cat).filter(col("k") >= 0L)
    assert(!isDriver(wide.orderBy(col("k").desc).limit(4)))
    assert(collected(wide.orderBy(col("k").desc).limit(4).select("k"))._2 > 0)
    // unbounded (a value filter bounds no rowkey) and incremental reads
    // stay distributed however small
    val valueOnly = read(dir, cat).filter(col("v") === 30L)
    assert(collected(valueOnly) == ((1, 1)))
    assert(!isDriver(valueOnly))
    val since = read(dir, cat, "sinceVersion" -> "0").filter(col("k") === 10L)
    assert(collected(since) == ((1, 1)))
    assert(!isDriver(since))
    // pushed aggregates share the rule: a bounded aggregate over the
    // first three shards folds on the driver (no job), while over all
    // four it keeps per-shard partials and Spark's final aggregate
    def aggOf(hi: Long): DataFrame = read(dir, cat)
      .filter(col("k") >= 0L && col("k") <= hi).agg(count(lit(1)), sum(col("v")))
    def aggJobs(df: DataFrame): (Long, Long, Int) = {
      var r: org.apache.spark.sql.Row = null
      val jobs = jobsOf { r = df.collect().head }
      (r.getLong(0), r.getLong(1), jobs)
    }
    assert(aggJobs(aggOf(top3)) == ((top3 + 1L, 3L * top3 * (top3 + 1L) / 2L, 0)))
    assert(isDriver(aggOf(top3)))
    assert(aggJobs(aggOf(n)) == ((n, 3L * (n - 1L) * n / 2L, 2)))
    assert(!isDriver(aggOf(n)))
  }

  test("the byte budget: wide rows far inside the row budget read per shard past its bytes") {
    val dir = Files.createTempDirectory("graft-kv-local3").toString
    val cat = catJson("local3")
    // 1200 rows of ~64 KB in 4 shards: ~77 MB in all, ~58 MB in three
    val wide = 64000
    spark.range(0L, 1200L).select(col("id").as("k"),
        concat(lit("u"), col("id"), expr(s"repeat('x', $wide)")).as("uid"),
        (col("id") * 3L).as("v"))
      .repartitionByRange(4, col("k"))
      .write.format("graft-kv").option("catalog", cat).option("path", dir)
      .mode("append").save()
    def minKey(s: graft.kv.KvShardMeta): Long = graft.kv.BytesCodec
      .decodeKey(org.apache.spark.sql.types.LongType, s.minKey).asInstanceOf[Long]
    val shards = KvStore.readMeta(dir).shards.sortBy(minKey)
    def bytes(ss: Seq[graft.kv.KvShardMeta]): Long =
      ss.map(s => new java.io.File(dir, s.file).length()).sum
    assert(shards.length == 4 && shards.map(_.rows).sum <= KvScan.MaxShardRows)
    assert(bytes(shards) > KvScan.MaxShardBytes && bytes(shards.take(3)) <= KvScan.MaxShardBytes,
      s"vacuity guard: ${bytes(shards)} / ${bytes(shards.take(3))} bytes")
    val top3 = minKey(shards(3)) - 1L
    def sumV(hi: Long): (Long, Int, Boolean) = {
      val df = read(dir, cat).filter(col("k").between(0L, hi)).agg(sum(col("v")))
      var got = 0L
      val jobs = jobsOf { got = df.collect().head.getLong(0) }
      (got, jobs, PlannedKvScan(df).isDriver)
    }
    assert(sumV(top3) == ((3L * top3 * (top3 + 1L) / 2L, 0, true)))
    assert(sumV(1199L) == ((3L * 1199L * 1200L / 2L, 2, false)))
    val rows = read(dir, cat).filter(col("k") >= 0L).select("k", "v")
    assert(!PlannedKvScan(rows).isDriver && rows.collect().length == 1200)
  }

  test("property: driver reads match a client model across read shapes and table states") {
    val rnd = new scala.util.Random(20261019L)
    val dir = Files.createTempDirectory("graft-kv-local2").toString
    val bdir = Files.createTempDirectory("graft-kv-local2b").toString
    val cat = catJson("local2")
    val bcat = catJson("local2b", buckets = 4)
    // version 1: keys 0..1999; version 2 appends a second row for every
    // 7th key (same key, two shards) plus fresh keys 2000..2199
    val v1 = (0L until 2000L).map(k => (k, s"u$k", k * 3))
    val v2 = ((0L until 2000L by 7L) ++ (2000L until 2200L)).map(k => (k, s"w$k", k * 3 + 1))
    append(dir, cat, v1, shards = 4)
    append(dir, cat, v2, shards = 4)
    append(bdir, bcat, v1, shards = 4)
    append(bdir, bcat, v2, shards = 4)
    assert(KvStore.readMeta(dir).version == 2L)
    var model: Seq[Rec] = v1 ++ v2
    def keys(): Seq[Long] = Seq.fill(1 + rnd.nextInt(20))(rnd.between(-20L, 2250L)).distinct

    def checkLive(tableDir: String, tableCat: String, label: String): Unit = {
      val ks = keys()
      val df = read(tableDir, tableCat).filter(isIn(ks))
      assert(recs(df) == model.filter(r => ks.contains(r._1)).sorted, s"$label keys=$ks")
      assert(PlannedKvScan(df).isDriver, s"$label must plan locally")
    }
    // _shard: a local read names the same shard per row as the
    // distributed full scan
    def shardsOf(df: DataFrame): Map[Long, Seq[String]] =
      df.select("k", "_shard").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
    def checkShards(label: String): Unit = {
      val byShard = shardsOf(read(dir, cat))
      (1 to 6).foreach { _ =>
        val ks = keys()
        assert(shardsOf(read(dir, cat).filter(isIn(ks))) ==
          byShard.filter { case (k, _) => ks.contains(k) }, s"$label _shard keys=$ks")
      }
    }

    // key ranges, ASC limits and DESC top-Ns on both layouts, at the
    // live version and at version 1, with a pushed value filter or a
    // bloom-column point beside the bound; every read runs on the driver
    // and collects with no job
    var bloomSkipped = 0L
    val bucketModel = v1 ++ v2
    def checkRange(label: String): Unit = {
      val lo = rnd.between(-20L, 2250L)
      val hi = lo + rnd.between(0L, 400L)
      val (tableDir, tableCat, opts, rows, what) = rnd.nextInt(3) match {
        case 0 => (bdir, bcat, Nil, bucketModel, "bucketed")
        case 1 => (dir, cat, Seq("asOfVersion" -> "1"), v1, "asOf 1")
        case _ => (dir, cat, Nil, model, "live")
      }
      var pred = col("k").between(lo, hi)
      var keep: Rec => Boolean = r => r._1 >= lo && r._1 <= hi
      rnd.nextInt(3) match {
        case 0 =>
          val cut = rnd.between(0L, 6600L)
          pred = pred && col("v") > cut
          val inRange = keep
          keep = r => inRange(r) && r._3 > cut
        case 1 =>
          val uid = s"${if (rnd.nextBoolean()) "u" else "w"}${rnd.between(lo, hi + 1L)}"
          pred = pred && col("uid") === uid
          val inRange = keep
          keep = r => inRange(r) && r._2 == uid
        case _ => ()
      }
      val want = rows.filter(keep).sorted
      val n = 1 + rnd.nextInt(8)
      val shapes = Seq[(String, DataFrame, Seq[Rec])](
        ("range", read(tableDir, tableCat, opts: _*).filter(pred), want),
        (s"ASC limit $n", read(tableDir, tableCat, opts: _*).filter(pred)
          .orderBy(col("k")).limit(n), want.take(n)),
        (s"DESC top $n", read(tableDir, tableCat, opts: _*).filter(pred)
          .orderBy(col("k").desc).limit(n), want.reverse.take(n)))
      shapes.foreach { case (shape, df, expect) =>
        val tag = s"$label $what $shape $pred"
        var got: Seq[Rec] = Nil
        assert(jobsOf { got = recs(df) } == 0, s"$tag: jobs")
        // a key repeated across overlapping shards ties at a limit's
        // edge: there, compare the keys and that every row is a match
        assert(got.map(_._1) == expect.map(_._1).sorted, s"$tag: keys")
        if (shape == "range") assert(got == expect, s"$tag: rows")
        else assert(got.forall(want.contains), s"$tag: rows")
        assert(PlannedKvScan(df).isDriver, s"$tag: must read on the driver")
        if (shape == "range") bloomSkipped += PlannedKvScan(df).metric("kvShardsSkippedBloom")
      }
    }

    (1 to 12).foreach { i =>
      checkRange(s"case $i")
      checkLive(dir, cat, s"case $i")
      checkLive(bdir, bcat, s"bucketed case $i")
      // asOfVersion: the first append only
      val ks = keys()
      assert(recs(read(dir, cat, "asOfVersion" -> "1").filter(isIn(ks))) ==
        v1.filter(r => ks.contains(r._1)).sorted, s"asOf 1 keys=$ks")
      // pushed value filter
      val cut = rnd.between(0L, 6600L)
      val vf = read(dir, cat).filter(isIn(ks) && col("v") > cut)
      assert(recs(vf) == model.filter(r => ks.contains(r._1) && r._3 > cut).sorted,
        s"v > $cut keys=$ks")
      assert(PlannedKvScan(vf).scan.description().contains(s"GreaterThan(v,$cut)"))
      // DESC top-N over the point set: the top keys, ties included
      val topN = 1 + rnd.nextInt(5)
      val desc = read(dir, cat).filter(isIn(ks)).orderBy(col("k").desc).limit(topN)
        .select("k")
      assert(desc.collect().map(_.getLong(0)).toSeq ==
        model.map(_._1).filter(ks.contains).sorted.reverse.take(topN), s"top $topN keys=$ks")
      assert(PlannedKvScan(desc).isDriver)
    }
    checkShards("live")

    // after a DELETE the lookups read the rewritten manifest
    spark.sql("DROP TABLE IF EXISTS graft_local2")
    spark.sql(s"CREATE TABLE graft_local2 USING `graft-kv` OPTIONS (catalog '$cat', path '$dir')")
    try {
      // an OR with an untranslatable operand must delete both disjuncts
      spark.sql("DELETE FROM graft_local2 WHERE k < 300 OR v % 2 = 0")
      model = model.filterNot(r => r._1 < 300L || r._3 % 2 == 0)
      assert(read(dir, cat).count() == model.length.toLong)
      (1 to 12).foreach { i =>
        checkLive(dir, cat, s"after DELETE case $i")
        checkRange(s"after DELETE case $i")
      }
      checkShards("after DELETE")
    } finally spark.sql("DROP TABLE IF EXISTS graft_local2")
    assert(bloomSkipped > 0L, "vacuity: no range read skipped a shard by its bloom sidecar")
  }
}
