package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Micro-batch streaming over the KV source: each append-mode write adds
  * manifest entries; the stream tails the manifest. */
class KvStreamSpec extends SparkSpec {

  private val cat =
    """{"table":{"name":"stream"},"rowkey":"k",
      | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
      |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin

  test("streaming sink appends epochs to the manifest; batch reads see them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft-kv-sink").toString
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-kv-sink-ckpt").toString)
      .outputMode("append").start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      val read1 = spark.read.format("graft-kv")
        .option("catalog", cat).option("path", dir).load()
      assert(read1.count() == 2)
      in.addData((3L, "c"))
      q.processAllAvailable()
      val read2 = spark.read.format("graft-kv")
        .option("catalog", cat).option("path", dir).load()
      assert(read2.collect().map(_.getAs[Long]("k")).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("epoch idempotence is scoped per query: two streams share one table") {
    import graft.kv.{KvCatalog, KvStore}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-kv-two-queries").toString
    val schema = KvCatalog.parse(cat).schema
    def commitEpoch(queryId: String, epochId: Long, offset: Long): Unit = {
      val w = new KvDataWriter(dir, schema, schema, "k", 0, 0L)
      (0L until 5L).foreach(i =>
        w.write(InternalRow(offset + i, UTF8String.fromString(s"v${offset + i}"))))
      val msg = w.commit()
      new KvStreamingWrite(KvCatalog.parse(cat), dir, schema, 256L << 20, queryId)
        .commit(epochId, Array(msg))
    }
    commitEpoch("queryA", 0L, 0L)
    commitEpoch("queryB", 0L, 100L) // same epoch id, DIFFERENT query
    commitEpoch("queryA", 0L, 200L) // retry of queryA epoch 0 → dropped
    val back = spark.read.format("graft-kv")
      .option("catalog", cat).option("path", dir).load()
    assert(back.collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      ((0L until 5L) ++ (100L until 105L)).sorted,
      "distinct queries' epoch 0 must both land; a query's retry must not")
    assert(KvStore.readMeta(dir).committedEpochs.toSet ==
      Set("queryA-0", "queryB-0"))
    // the epoch-record tail is bounded: old records age out FIFO while
    // recent epochs keep their retry protection
    val sw = new KvStreamingWrite(KvCatalog.parse(cat), dir, schema, 256L << 20, "longrun")
    (1L to KvStreamingWrite.MaxEpochRecords + 10L).foreach { e =>
      sw.commit(e, Array.empty)
    }
    val epochs = KvStore.readMeta(dir).committedEpochs
    assert(epochs.length == KvStreamingWrite.MaxEpochRecords)
    assert(epochs.last == s"longrun-${KvStreamingWrite.MaxEpochRecords + 10}")
    assert(!epochs.contains("queryA-0"), "oldest records age out")
  }

  test("a replayed epoch on a bloom sink leaves no sidecar without its shard") {
    import graft.kv.{KvCatalog, KvStore}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-kv-epoch-bloom").toString
    val schema = KvCatalog.parse(cat).schema
    def commitEpoch(offset: Long): Unit = {
      val w = new KvDataWriter(dir, schema, schema, "k", 0, 0L, bloomColumns = "v")
      (0L until 5L).foreach(i =>
        w.write(InternalRow(offset + i, UTF8String.fromString(s"v${offset + i}"))))
      new KvStreamingWrite(KvCatalog.parse(cat), dir, schema, 256L << 20, "q", "v")
        .commit(0L, Array(w.commit()))
    }
    commitEpoch(0L)
    commitEpoch(100L) // retry of epoch 0 → dropped
    assert(KvStore.readMeta(dir).shards.forall(_.bloom.nonEmpty))
    val names = new java.io.File(dir).list().toSet
    val blooms = names.filter(_.endsWith(".kv.bloom"))
    assert(blooms.nonEmpty)
    assert(blooms.forall(b => names(b.stripSuffix(".bloom"))),
      s"orphaned sidecars: ${blooms.filterNot(b => names(b.stripSuffix(".bloom")))}")
  }

  test("stream tails appended shards across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-stream").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()

    write(1 to 10, "overwrite")
    val stream = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir).load()
      .filter(col("k") > 2) // pushdown applies per micro-batch
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("kv_stream_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kv_stream_out").count() == 8) // 3..10

      write(11 to 15, "append")
      q.processAllAvailable()
      assert(spark.table("kv_stream_out").count() == 13) // + 11..15
      val keys = spark.table("kv_stream_out").select("k")
        .collect().map(_.getLong(0)).sorted
      assert(keys.toSeq == ((3L to 15L)))
    } finally q.stop()
  }

  test("a mid-stream compaction neither duplicates nor drops rows (log-replay offsets)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-stream-compact").toString
    def append(range: Range): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode("append").save()

    append(1 to 10)   // v1
    append(11 to 20)  // v2
    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_stream_compact_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kv_stream_compact_out").count() == 20)
      // compaction bumps the version and renumbers manifest POSITIONS —
      // under positional offsets the merged shard would re-serve rows
      // 1..20 as "new"; under log-replay offsets its commit adds nothing
      assert(graft.kv.KvCompactor.compact(dir, 1L << 30, retainInputs = true) > 0) // v3
      append(21 to 30) // v4
      q.processAllAvailable()
      val keys = spark.table("kv_stream_compact_out").select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(keys == (1L to 30L),
        s"expected exactly 1..30 once each, got ${keys.length} rows")
    } finally q.stop()
  }

  test("streaming reads prune appended shards by rowkey range (multi-range)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-streamrr").toString
    def write(range: Range): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(if (range.head == 1) "overwrite" else "append").save()
    write(1 to 10)
    // sparse IN over the keyspace: appended shards outside every point
    // range must be pruned per micro-batch, not scanned-and-dropped
    val stream = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir).load()
      .filter(col("k").isin(5L, 105L, 205L))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("kv_stream_mr").start()
    try {
      q.processAllAvailable()
      write(101 to 110) // holds 105
      write(301 to 310) // outside every range: pruned whole
      q.processAllAvailable()
      val keys = spark.table("kv_stream_mr").select("k")
        .collect().map(_.getLong(0)).sorted
      assert(keys.toSeq == Seq(5L, 105L))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger catches up in bounded micro-batches, losing nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-admctl").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    // a 6-version backlog BEFORE the stream starts
    write(1 to 10, "overwrite")
    (1 to 5).foreach(i => write(i * 10 + 1 to i * 10 + 10, "append"))

    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("maxVersionsPerTrigger", 2).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_admctl_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kv_admctl_out").select("k")
        .collect().map(_.getLong(0)).sorted.toSeq == (1L to 60L),
        "rate-limited catch-up must still deliver every row exactly once")
      // the backlog must have drained in ceil(6/2) = 3 bounded batches,
      // not one monolith (batch ids in the progress log)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"6 versions at maxVersionsPerTrigger=2 must take >= 3 micro-batches, " +
          s"got ${batches.length}")
    } finally q.stop()
  }

  test("AvailableNow + maxVersionsPerTrigger drains the backlog in bounded batches, then stops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-admnow").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    write(1 to 10, "overwrite")
    (1 to 4).foreach(i => write(i * 10 + 1 to i * 10 + 10, "append")) // 5 versions

    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("maxVersionsPerTrigger", 2).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_admnow_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow must TERMINATE on its own despite the rate limit
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(spark.table("kv_admnow_out").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 50L),
      "rate-limited AvailableNow drain must deliver the full backlog exactly once")
    // the drain must honor the admission cap: 5 versions at
    // maxVersionsPerTrigger=2 → ceil(5/2) = 3 bounded micro-batches.
    // One monolithic batch means the source fell back to Trigger.Once
    // and IGNORED the cap (the pre-r13 behavior before the stream
    // implemented SupportsTriggerAvailableNow) — the unbounded unit of
    // retry the cap exists to prevent.
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"AvailableNow must drain in >= 3 rate-limited batches, got ${batches.length}")
  }

  test("AvailableNow + maxBytesPerTrigger drains in byte-bounded batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-admnowbytes").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    // one bulk commit + trickles; cap below the bulk's size so the
    // composite AvailableNow+bytes path must admit the bulk ALONE
    // (progress guarantee) and still finish the trickles
    write(1 to 200, "overwrite")
    (1 to 3).foreach(i => write(200 + i * 10 + 1 to 200 + i * 10 + 10, "append"))
    val cap = graft.kv.KvStore.readMeta(dir).shards
      .map(s => new java.io.File(s"$dir/${s.file}").length()).max - 1
    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("maxBytesPerTrigger", cap).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_admnowbytes_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(spark.table("kv_admnowbytes_out").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 200L) ++ (211L to 220L) ++ (221L to 230L) ++ (231L to 240L)),
      "byte-capped AvailableNow drain must deliver the full backlog exactly once")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 2,
      s"the oversized bulk must not drag the trickles into one batch, got ${batches.length}")
    assert(batches.head.numInputRows == 200,
      s"the bulk commit must be admitted alone, got ${batches.head.numInputRows}")
  }

  test("AvailableNow resumes from its checkpoint: a second drain serves only new versions") {
    // the incremental-batch production pattern: a scheduled job drains
    // "everything available now" and exits; the next run must resume
    // from the checkpoint and serve ONLY commits that arrived since —
    // re-serving the old backlog would double-count every record in
    // the downstream table
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-resume").toString
    val outDir = Files.createTempDirectory("graft-kv-resume-out").toString
    val outCat = cat.replace("\"stream\"", "\"stream_resumed\"")
    val ckpt = Files.createTempDirectory("graft-kv-resume-ckpt").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    // KV source → KV sink, the end-to-end incremental shape; the sink's
    // idempotent epoch commits + the checkpoint's batch numbering make
    // any re-served backlog visible as duplicate keys in the out table
    def drain(): Seq[Long] = {
      val q = spark.readStream.format("graft-kv")
        .option("catalog", cat).option("path", dir)
        .option("maxVersionsPerTrigger", 1).load()
        .writeStream.outputMode("append")
        .format("graft-kv")
        .option("catalog", outCat).option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow drain must self-terminate")
      q.stop()
      spark.read.format("graft-kv").option("catalog", outCat).option("path", outDir)
        .load().select("k").collect().map(_.getLong(0)).sorted.toSeq
    }
    write(1 to 10, "overwrite")
    (1 to 2).foreach(i => write(i * 10 + 1 to i * 10 + 10, "append")) // 3 versions
    assert(drain() == (1L to 30L), "first drain serves the full backlog")
    write(31 to 40, "append")
    write(41 to 50, "append")
    assert(drain() == (1L to 50L),
      "the resumed drain must append ONLY the versions committed since " +
        "the checkpoint — a re-served backlog would show duplicate keys")
    // nothing new → an idle drain appends nothing (and still terminates)
    assert(drain() == (1L to 50L),
      "an up-to-date drain must plan zero new offsets")
  }

  test("maxBytesPerTrigger bounds catch-up by commit size, losing nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-admbytes").toString
    def write(range: Range, mode: String): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    // uneven backlog: one bulk commit then trickle commits — the case
    // where a version-count cap admits wildly different byte volumes
    write(1 to 200, "overwrite")
    (1 to 4).foreach(i => write(200 + i * 10 + 1 to 200 + i * 10 + 10, "append"))
    val shardBytes = graft.kv.KvStore.readMeta(dir).shards
      .map(s => new java.io.File(s"$dir/${s.file}").length())
    // cap below the bulk commit's size: it must still be admitted
    // (progress guarantee) but ALONE in its micro-batch
    val cap = shardBytes.max - 1

    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("maxBytesPerTrigger", cap).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_admbytes_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kv_admbytes_out").select("k")
        .collect().map(_.getLong(0)).sorted.toSeq ==
        ((1L to 200L) ++ (211L to 220L) ++ (221L to 230L) ++
         (231L to 240L) ++ (241L to 250L)),
        "byte-capped catch-up must still deliver every row exactly once")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"an oversized bulk commit must not drag the trickle commits into " +
          s"one monolithic batch, got ${batches.length}")
      assert(batches.head.numInputRows == 200,
        s"the bulk commit must be admitted alone (progress guarantee), " +
          s"got ${batches.head.numInputRows} rows in the first batch")
    } finally q.stop()
  }

  private val evCat =
    """{"table":{"name":"evstream"},"rowkey":"k",
      | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
      |            "et":{"cf":"f","col":"et","type":"long"}}}""".stripMargin

  test("a stream whose window was compacted away fails at planning with the retention error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-stream-gone").toString
    def append(range: Range): Unit =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode("append").save()
    append(1 to 10)  // v1
    append(11 to 20) // v2
    // retain=false compaction deletes the inputs immediately — v2's
    // added shard file is gone, but the archived manifest still lists it
    assert(graft.kv.KvCompactor.compact(dir, 1L << 30, retainInputs = false) > 0) // v3
    // a checkpoint from before the compaction now asks for (1, cur]:
    // the delta includes v2's reclaimed shard — the batch must fail at
    // PLANNING with the retention contract error, not FileNotFoundException
    val q = spark.readStream.format("graft-kv")
      .option("catalog", cat).option("path", dir)
      .option("sinceVersion", "1").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kv_stream_gone_out").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    val msg = Option(e.getCause).map(_.toString).getOrElse(e.toString)
    assert(msg.contains("truncated or vacuumed") || e.toString.contains("truncated or vacuumed"),
      s"expected the retention planning error, got: $e")
    q.stop()
  }

  test("eventTimeColumn surfaces _event_time; batch values match timestamp_millis") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-evbatch").toString
    Seq((1L, 1000L), (2L, 2000L)).toDF("k", "et").coalesce(1)
      .write.format("graft-kv").option("catalog", evCat).option("path", dir)
      .mode("overwrite").save()
    val df = spark.read.format("graft-kv")
      .option("catalog", evCat).option("path", dir)
      .option("eventTimeColumn", "et").option("eventTimeUnit", "millis").load()
    assert(df.schema("_event_time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val diff = df.select(col("k"),
        (col("_event_time") === timestamp_millis(col("et"))).as("ok"))
      .collect()
    assert(diff.length == 2 && diff.forall(_.getBoolean(1)),
      "_event_time must equal timestamp_millis(et) row for row")

    // contract violations fail loudly at load, not silently downstream
    intercept[IllegalArgumentException] {
      spark.read.format("graft-kv").option("catalog", evCat).option("path", dir)
        .option("eventTimeColumn", "nope").load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-kv").option("catalog", cat).option("path", dir)
        .option("eventTimeColumn", "v").load() // string column
    }
  }

  test("two KV streams join on the derived event-time with bounded state cleanup") {
    import spark.implicits._
    val lCat =
      """{"table":{"name":"ssj_imps"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "u":{"cf":"f","col":"u","type":"long"},
        |            "et":{"cf":"f","col":"et","type":"long"}}}""".stripMargin
    val rCat = lCat.replace("ssj_imps", "ssj_clicks")
    val lDir = Files.createTempDirectory("graft-kv-ssj-l").toString
    val rDir = Files.createTempDirectory("graft-kv-ssj-r").toString
    def write(dir: String, cat: String, rows: Seq[(Long, Long, Long)], mode: String): Unit =
      rows.toDF("k", "u", "et").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", dir)
        .mode(mode).save()
    def stream(dir: String, cat: String, p: String) =
      spark.readStream.format("graft-kv")
        .option("catalog", cat).option("path", dir)
        .option("eventTimeColumn", "et").option("eventTimeUnit", "millis").load()
        .withWatermark("_event_time", "10 seconds")
        .select(col("k").as(s"${p}_k"), col("u").as(s"${p}_u"),
          col("_event_time").as(s"${p}_t"))

    // impression at t=1s for user 100; click at t=3s — attributable
    // (click within [impression, impression + 10s])
    write(lDir, lCat, Seq((1L, 100L, 1000L)), "overwrite")
    write(rDir, rCat, Seq((11L, 100L, 3000L)), "overwrite")
    val joined = stream(lDir, lCat, "l").join(stream(rDir, rCat, "r"),
      expr("l_u = r_u AND r_t BETWEEN l_t AND l_t + interval 10 seconds"))
      .select(col("l_k"), col("r_k"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("kv_ssj_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kv_ssj_out").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((1L, 11L)), "the on-time attribution pair must join")

      // advance BOTH watermarks to ~t=60s (watermark 50s): another
      // attributable pair joins, and the t=1s impression's state is now
      // evictable on the next maintenance batch
      write(lDir, lCat, Seq((2L, 200L, 60000L)), "append")
      write(rDir, rCat, Seq((12L, 200L, 61000L)), "append")
      q.processAllAvailable()
      assert(spark.table("kv_ssj_out").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((1L, 11L), (2L, 12L)), "the second pair must join")

      // a LATE click (t=3.5s, far below the ~50s watermark) for the
      // evicted impression must produce NOTHING — if it joins, state
      // cleanup never happened and join state grows without bound
      write(rDir, rCat, Seq((13L, 100L, 3500L)), "append")
      q.processAllAvailable()
      assert(spark.table("kv_ssj_out").count() == 2,
        "a click below the watermark must not join against evicted state")

      // bounded state, asserted from the progress metrics: the join
      // operator must retain FEWER rows than were ever ingested (4
      // on-time rows entered state; the first pair's must be gone)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows < 4,
        s"join state must shrink after watermark passes (retained $stateRows of 4 ever-added rows)")
    } finally q.stop()
  }

  test("a watermarked KV stream drops rows later than the watermark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-evlate").toString
    def write(rows: Seq[(Long, Long)], mode: String): Unit =
      rows.toDF("k", "et").coalesce(1)
        .write.format("graft-kv").option("catalog", evCat).option("path", dir)
        .mode(mode).save()

    // window [0s,10s): three on-time rows
    write(Seq((1L, 1000L), (2L, 2000L), (3L, 3000L)), "overwrite")
    val windowed = spark.readStream.format("graft-kv")
      .option("catalog", evCat).option("path", dir)
      .option("eventTimeColumn", "et").option("eventTimeUnit", "millis").load()
      .withWatermark("_event_time", "10 seconds")
      .groupBy(window(col("_event_time"), "10 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("w_start"), col("n"))
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName("kv_ev_windows").start()
    try {
      q.processAllAvailable()
      // advance the watermark past the first window: 30s - 10s = 20s > 10s
      write(Seq((11L, 30000L)), "append")
      q.processAllAvailable()
      // a LATE row for the closed [0,10) window plus a fresh row; the
      // late row must be dropped, not re-open or re-emit the window
      write(Seq((21L, 5000L), (22L, 35000L)), "append")
      q.processAllAvailable()
      val out = spark.table("kv_ev_windows")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out.get(0L).contains(3L),
        s"window [0,10s) must emit exactly the 3 on-time rows, got $out")
      assert(out.size == 1,
        s"no other window is past the watermark yet, got $out")
    } finally q.stop()
  }
}
