package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.kv.{KvCompactor, KvStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest-native IVF maintenance over a versioned graft-kv corpus:
  * staleness = version compare, append detection = lineage file
  * survival, delta = the engine's own incremental read. */
class IvfKvStoreSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def freshCorpus(): (String, Long) = {
    val dir = Files.createTempDirectory("ivfkv-corpus").toString + "/t"
    val raw = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    raw.repartitionByRange(2, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir).mode("append").save()
    (dir, raw.count())
  }

  private def appendRows(dir: String, idOffset: Long, n: Int): Unit =
    Tables.embeddings(spark, d).orderBy(col("vec_id")).limit(n)
      .select((col("vec_id") + idOffset).as("vec_id"), col("embedding"))
      .coalesce(1).write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir).mode("append").save()

  private def meta(dir: String) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(new java.io.File(
      s"${IvfKvStore.indexRoot(dir)}/_ivfmeta.json"))
  }

  test("append commits extend the index incrementally via the lineage-planned delta") {
    val (dir, n) = freshCorpus()
    val idx1 = IvfKvStore.ensure(spark, dir)
    assert(idx1.nVectors == n)
    val m1 = meta(dir)
    assert(m1.path("corpusVersion").asLong() == 1)
    // two separate append commits -> one ensure covers the whole window
    appendRows(dir, 500000, 12)
    appendRows(dir, 600000, 8)
    val e = intercept[IllegalStateException](IvfKvStore.load(spark, dir))
    assert(e.getMessage.contains("PURE APPEND"), e.getMessage)
    val idx2 = IvfKvStore.ensure(spark, dir)
    val m2 = meta(dir)
    assert(m2.path("corpusVersion").asLong() == 3)
    assert(m2.path("centroidsVersion").asLong() == m1.path("centroidsVersion").asLong(),
      "incremental update must not touch the centroid table")
    assert(m2.path("appendedRows").asLong() == 20)
    assert(idx2.nVectors == n + 20)
    val got = idx2.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = spark.read.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog).option("path", dir).load()
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"assigned ids diverge: missing ${want -- got}, stray ${got -- want}")
    // the delta's cells equal a direct frozen-centroid assignment
    val delta: DataFrame = spark.read.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog).option("path", dir)
      .option("sinceVersion", 1).load()
      .select(col("vec_id"), col("embedding"))
    val expected = Similarity
      .assignRouted(delta, idx2.coarse, idx2.centRouted, idx2.nlist)
      .select(col("vec_id"), col("cell"))
    val gotCells = idx2.assigned.filter(col("vec_id") >= 500000)
      .select(col("vec_id"), col("cell"))
    assert(gotCells.except(expected).count() == 0 &&
      expected.except(gotCells).count() == 0)
  }

  test("retain-mode compaction is not a rewrite: empty-delta window just re-pins") {
    val (dir, n) = freshCorpus()
    appendRows(dir, 700000, 10)
    IvfKvStore.ensure(spark, dir) // build at v2
    val m1 = meta(dir)
    assert(KvCompactor.compact(dir, 1L << 30, retainInputs = true) > 0)
    val v = KvStore.readMeta(dir).version
    assert(v == 3)
    val idx = IvfKvStore.ensure(spark, dir)
    val m2 = meta(dir)
    assert(m2.path("corpusVersion").asLong() == v, "ensure must re-pin past the compaction")
    assert(m2.path("assignedVersion").asLong() == m1.path("assignedVersion").asLong(),
      "an empty-delta window must not commit to the index tables")
    assert(m2.path("appendedRows").asLong() == m1.path("appendedRows").asLong())
    assert(idx.nVectors == n + 10)
    // and a further append AFTER the compaction still increments
    appendRows(dir, 800000, 5)
    val idx2 = IvfKvStore.ensure(spark, dir)
    assert(idx2.nVectors == n + 15)
    assert(meta(dir).path("centroidsVersion").asLong() ==
      m1.path("centroidsVersion").asLong())
  }

  test("an overwrite is classified as a rewrite and refused; rebuild-on-stale recovers") {
    val (dir, n) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    // truncate-overwrite: replaces every shard (drop one vector)
    val kept = Tables.embeddings(spark, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    kept.repartitionByRange(2, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir).mode("overwrite").save()
    val e = intercept[IllegalStateException](IvfKvStore.ensure(spark, dir))
    assert(e.getMessage.contains("NOT a pure append"), e.getMessage)
    val e2 = intercept[IllegalStateException](IvfKvStore.load(spark, dir))
    assert(e2.getMessage.contains("NOT a pure append"), e2.getMessage)
    val idx = IvfKvStore.build(spark, dir)
    assert(idx.nVectors == n - 1)
    assert(meta(dir).path("appendedRows").asLong() == 0)
  }

  private def corpusDf(dir: String) = spark.read.format("graft-kv")
    .option("catalog", IvfKvStore.corpusCatalog).option("path", dir).load()
    .select(col("vec_id"), col("embedding"))

  private def assertAssignedMatches(dir: String): Unit = {
    val index = IvfKvStore.load(spark, dir)
    val direct = Similarity
      .assignRouted(corpusDf(dir), index.coarse, index.centRouted, index.nlist)
      .select(col("vec_id"), col("cell"))
    val got = index.assigned.select(col("vec_id"), col("cell"))
    assert(got.except(direct).count() == 0 && direct.except(got).count() == 0,
      "assigned table must equal a direct frozen-centroid assignment of the live corpus")
  }

  test("a row-level DML delete is detected via the watermark and patched incrementally") {
    // Regression core: the replaced genuine adds land in retiredAdds
    // (the change-feed planner needs them there), so the file-survival
    // check alone read a DELETE window as a pure append with an EMPTY
    // delta — ensure() silently re-pinned an index still serving
    // deleted rows. The lastRewriteVersion watermark is the fix; the
    // DML-incremental path then PATCHES instead of refusing.
    val (dir, n) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    val m1 = meta(dir)
    spark.sql("DROP TABLE IF EXISTS ivfkv_dml")
    try {
      spark.sql(s"""
        CREATE TABLE ivfkv_dml USING `graft-kv`
        OPTIONS (catalog '${IvfKvStore.corpusCatalog}', path '$dir')""")
      spark.sql("DELETE FROM ivfkv_dml WHERE vec_id % 10 = 3")
      val live = KvStore.readMeta(dir)
      assert(live.lastRewriteVersion == live.version,
        "row-level DML must stamp the rewrite watermark")
      // load() is read-only: it refuses any rewrite window
      val e2 = intercept[IllegalStateException](IvfKvStore.load(spark, dir))
      assert(e2.getMessage.contains("NOT a pure append"), e2.getMessage)
      // a SCATTERED delete touches every shard: the region is the whole
      // corpus, which the default cost bound refuses...
      val e3 = intercept[IllegalStateException](IvfKvStore.ensure(spark, dir))
      assert(e3.getMessage.contains("graft.ivfMaxDmlFrac"), e3.getMessage)
      assert(e3.getMessage.contains("row-level rewrite"), e3.getMessage)
      // ...but an explicit budget patches it: deleted ids vanish,
      // centroids stay frozen, and every assignment equals a direct
      // frozen-centroid assignment of the live corpus
      val survivors = spark.table("ivfkv_dml").count()
      assert(survivors < n)
      spark.conf.set("graft.ivfMaxDmlFrac", "1.0")
      try {
        val idx = IvfKvStore.ensure(spark, dir)
        assert(idx.nVectors == survivors)
        assert(meta(dir).path("centroidsVersion").asLong() ==
          m1.path("centroidsVersion").asLong(),
          "a DML patch must not touch the centroid table")
        // pure deletes add NOTHING to the centroid-drift budget: every
        // surviving row was seen by the build
        assert(meta(dir).path("appendedRows").asLong() == 0)
        assertAssignedMatches(dir)
      } finally spark.conf.unset("graft.ivfMaxDmlFrac")
    } finally spark.sql("DROP TABLE IF EXISTS ivfkv_dml")
  }

  test("a PUSHABLE-predicate DML delete stamps the watermark and patches too") {
    // Regression core (round 16): `DELETE FROM t WHERE vec_id <= X` is
    // fully pushable, so Spark takes the SupportsDelete.deleteWhere
    // metadata fast path (KvDataSource.deleteOnce) instead of the
    // group-based KvRowLevelOps rewrite. That path's manifest swap
    // committed WITHOUT rewriteCommit=true — the watermark stayed
    // unstamped, classify() read the window as compaction-only, and
    // ensure() silently re-pinned an index still serving the deleted
    // vectors. The % 10 test above never catches this: modulo is not
    // pushable.
    val (dir, n) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    val m1 = meta(dir)
    val cutoff = spark.read.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog).option("path", dir).load()
      .selectExpr("percentile_approx(vec_id, 0.2)").head().getLong(0)
    spark.sql("DROP TABLE IF EXISTS ivfkv_dml_push")
    try {
      spark.sql(s"""
        CREATE TABLE ivfkv_dml_push USING `graft-kv`
        OPTIONS (catalog '${IvfKvStore.corpusCatalog}', path '$dir')""")
      spark.sql(s"DELETE FROM ivfkv_dml_push WHERE vec_id <= $cutoff")
      val live = KvStore.readMeta(dir)
      assert(live.lastRewriteVersion == live.version,
        "a pushable-predicate deleteWhere must stamp the rewrite watermark")
      // the window must be classified as a rewrite, never re-pinned
      val e = intercept[IllegalStateException](IvfKvStore.load(spark, dir))
      assert(e.getMessage.contains("NOT a pure append"), e.getMessage)
      val survivors = spark.table("ivfkv_dml_push").count()
      assert(survivors < n)
      spark.conf.set("graft.ivfMaxDmlFrac", "1.0")
      try {
        val idx = IvfKvStore.ensure(spark, dir)
        assert(idx.nVectors == survivors,
          "ensure() must PATCH the delete, not re-pin the stale index")
        assert(idx.assigned.filter(col("vec_id") <= cutoff).count() == 0,
          "deleted vectors must vanish from the assigned table")
        assert(meta(dir).path("centroidsVersion").asLong() ==
          m1.path("centroidsVersion").asLong())
        assert(meta(dir).path("appendedRows").asLong() == 0,
          "a pure delete adds nothing to the centroid-drift budget")
        assertAssignedMatches(dir)
      } finally spark.conf.unset("graft.ivfMaxDmlFrac")
    } finally spark.sql("DROP TABLE IF EXISTS ivfkv_dml_push")
  }

  test("a localized replaceKeyRanges rewrite (deletes + updates) patches within bounds") {
    val dir = Files.createTempDirectory("ivfkv-dml2").toString + "/t"
    val raw = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    raw.repartitionByRange(8, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir).mode("append").save()
    val n = raw.count()
    IvfKvStore.ensure(spark, dir)
    val m1 = meta(dir)
    // rewrite one narrow region: drop every 5th id, scale every 7th
    val lo = n / 3
    val hi = lo + n / 10
    val survivors = raw
      .filter(col("vec_id") > lo && col("vec_id") <= hi && col("vec_id") % 5 =!= 0)
      .withColumn("embedding",
        when(col("vec_id") % 7 === 0,
          transform(col("embedding"), x => x * lit(2.0f)))
          .otherwise(col("embedding")))
    survivors.coalesce(1)
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir)
      .option("replaceKeyRanges",
        graft.sources.KeyRanges.serializeTyped(
          org.apache.spark.sql.types.LongType, Seq((lo + 1, hi))))
      .mode("overwrite").save()
    // default bounds admit the narrow region; the patch must not touch
    // centroids, and the whole assigned table must equal a direct
    // frozen-centroid assignment of the post-DML corpus
    val idx = IvfKvStore.ensure(spark, dir)
    assert(idx.nVectors == corpusDf(dir).count())
    assert(idx.nVectors < n)
    assert(meta(dir).path("centroidsVersion").asLong() ==
      m1.path("centroidsVersion").asLong())
    assertAssignedMatches(dir)
    // drift accounting is EXACT: only updated rows count (deletes are
    // free), so the budget reflects rows the centroids never saw
    val updated = corpusDf(dir)
      .filter(col("vec_id") > lo && col("vec_id") <= hi && col("vec_id") % 7 === 0)
      .count()
    assert(meta(dir).path("appendedRows").asLong() == updated,
      s"drift must count exactly the $updated updated rows")
    // and the patched index is FRESH: load() succeeds, re-ensure no-ops
    val v = meta(dir).path("assignedVersion").asLong()
    IvfKvStore.ensure(spark, dir)
    assert(meta(dir).path("assignedVersion").asLong() == v)
  }

  test("a mixed window (append commit + DML rewrite) patches both at once") {
    val dir = Files.createTempDirectory("ivfkv-dml3").toString + "/t"
    val raw = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    raw.repartitionByRange(8, col("vec_id"))
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir).mode("append").save()
    val n = raw.count()
    IvfKvStore.ensure(spark, dir)
    // commit 1: a pure append of 10 new vectors
    appendRows(dir, 400000, 10)
    // commit 2: delete a narrow range outright
    val lo = n / 2
    val hi = lo + n / 20
    spark.emptyDataFrame
      .select(lit(0L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
      .filter(lit(false))
      .write.format("graft-kv")
      .option("catalog", IvfKvStore.corpusCatalog)
      .option("path", dir)
      .option("replaceKeyRanges",
        graft.sources.KeyRanges.serializeTyped(
          org.apache.spark.sql.types.LongType, Seq((lo + 1, hi))))
      .mode("overwrite").save()
    val idx = IvfKvStore.ensure(spark, dir)
    val want = corpusDf(dir).count()
    assert(idx.nVectors == want)
    val ids = idx.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ >= 400000), "appended rows must be probe-visible")
    assert(!ids.exists(id => id > lo && id <= hi && id < 400000),
      "deleted range must be gone from the index")
    assertAssignedMatches(dir)
  }

  test("row-exact drift bound: appends past graft.ivfMaxAppendFrac refuse") {
    val (dir, _) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    appendRows(dir, 900000, 10)
    spark.conf.set("graft.ivfMaxAppendFrac", "0.000001")
    try {
      val e = intercept[IllegalStateException](IvfKvStore.ensure(spark, dir))
      assert(e.getMessage.contains("graft.ivfMaxAppendFrac"), e.getMessage)
    } finally spark.conf.unset("graft.ivfMaxAppendFrac")
    // back under the default bound the same window increments fine
    assert(IvfKvStore.ensure(spark, dir).nVectors ==
      Tables.embeddings(spark, d).count() + 10)
  }

  test("index-table self-maintenance: compaction bounds shards, probe bit-identical") {
    // Every incremental append/patch adds shards to `assigned`; over
    // many cycles the index table fragments without bound. Past
    // graft.ivfCompactShards the maintenance step merges small shards
    // (retain-mode) and re-pins assignedVersion — merging files must
    // not change a single row.
    val (dir, _) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    val root = IvfKvStore.indexRoot(dir)
    val assignedDir = s"$root/assigned"
    // fragment under the default (high) threshold: no auto-compaction
    (0 until 5).foreach { i =>
      appendRows(dir, 700000 + i * 1000, 8)
      IvfKvStore.ensure(spark, dir)
    }
    val fragShards = KvStore.readMeta(assignedDir).shards.length
    assert(fragShards > 6, s"expected a fragmented index table, got $fragShards")
    val q = Tables.embeddings(spark, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def probe(): Set[(Long, Long)] = {
      val idx = IvfKvStore.load(spark, dir)
      Similarity.ivfProbe(spark, idx, q, nProbe = 4)
        .select(col("q_id"), col("n_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = probe()
    spark.conf.set("graft.ivfCompactShards", "4")
    try KvStore.withTableLock(root)(IvfStore.maybeCompactAssigned(spark, root))
    finally spark.conf.unset("graft.ivfCompactShards")
    val compacted = KvStore.readMeta(assignedDir)
    assert(compacted.shards.length < fragShards,
      s"compaction did not shrink the table ($fragShards -> ${compacted.shards.length})")
    assert(meta(dir).path("assignedVersion").asLong() == compacted.version,
      "self-maintenance must re-pin assignedVersion to the compacted commit")
    assert(probe() == before,
      "probe results must be bit-identical across index-table compaction")
    assertAssignedMatches(dir)
    // the automatic path: another maintenance cycle under a low
    // threshold compacts inside ensure() and stays bounded; with the
    // opt-in vacuum the superseded generation is reclaimed too
    spark.conf.set("graft.ivfCompactShards", "2")
    spark.conf.set("graft.ivfVacuumGraceMs", "0")
    try {
      appendRows(dir, 800000, 8)
      IvfKvStore.ensure(spark, dir)
      val live = KvStore.readMeta(assignedDir)
      assert(live.shards.length <= 2,
        "auto-compaction past the threshold must keep the shard count bounded")
      val onDisk = Option(new java.io.File(assignedDir).listFiles()).toSeq.flatten
        .count(f => f.getName.startsWith("shard-") && f.getName.endsWith(".kv"))
      assert(onDisk == live.shards.length,
        s"grace-0 vacuum must reclaim superseded index files " +
          s"($onDisk on disk vs ${live.shards.length} live)")
      assertAssignedMatches(dir)
    } finally {
      spark.conf.unset("graft.ivfCompactShards")
      spark.conf.unset("graft.ivfVacuumGraceMs")
    }
  }

  test("vacuumed v0 region files degrade the drift diff to the conservative bound") {
    // the DML patch's exact changed-row diff reads the region pinned at
    // v0; when those superseded shard files are already vacuumed the
    // pinned read fails with the KV layer's "unavailable" planning
    // error and the diff falls back to counting the whole region as
    // drift — over-counting is sound (it only triggers earlier rebuild)
    val (dir, n) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS ivfkv_vac")
    try {
      spark.sql(s"""
        CREATE TABLE ivfkv_vac USING `graft-kv`
        OPTIONS (catalog '${IvfKvStore.corpusCatalog}', path '$dir')""")
      val cutoff = spark.table("ivfkv_vac")
        .selectExpr("percentile_approx(vec_id, 0.2)").head().getLong(0)
      spark.sql(s"DELETE FROM ivfkv_vac WHERE vec_id <= $cutoff")
      // reclaim ONLY the replaced v1 shard files (a full vacuum(0)
      // would also expire the archived v1 manifest and hit the refuse
      // path instead): the archived manifest survives, so dmlRegion
      // plans, but the pinned region read fails "unavailable"
      val old = KvStore.readMetaAsOf(dir, Some(1L))
      val liveFiles = KvStore.readMeta(dir).shards.map(_.file).toSet
      val gone = old.shards.filterNot(s => liveFiles(s.file))
      assert(gone.nonEmpty, "the delete must have replaced at least one shard")
      gone.foreach(s => new java.io.File(s"$dir/${s.file}").delete())
      val survivors = spark.table("ivfkv_vac").count()
      spark.conf.set("graft.ivfMaxDmlFrac", "1.0")
      // the conservative drift (whole region) would blow the default
      // 0.25 budget — widen it so the test reaches the patch itself
      spark.conf.set("graft.ivfMaxAppendFrac", "1.0")
      try {
        val idx = IvfKvStore.ensure(spark, dir)
        assert(idx.nVectors == survivors)
        // conservative: the whole surviving region counted as drift
        assert(meta(dir).path("appendedRows").asLong() > 0,
          "vacuumed v0 must degrade to the conservative region-row drift")
        assertAssignedMatches(dir)
      } finally {
        spark.conf.unset("graft.ivfMaxDmlFrac")
        spark.conf.unset("graft.ivfMaxAppendFrac")
      }
    } finally spark.sql("DROP TABLE IF EXISTS ivfkv_vac")
  }

  test("a corrupted pinned v0 read fails loudly, never silently degrades") {
    // the round-15 catch-all converted ANY pinned-read failure into the
    // conservative drift number; a genuine bug (here: a truncated
    // retained shard file that fails mid-task, surfacing as a
    // SparkException, not the planner's "unavailable"
    // IllegalArgumentException) must propagate instead
    val (dir, _) = freshCorpus()
    IvfKvStore.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS ivfkv_corrupt")
    try {
      spark.sql(s"""
        CREATE TABLE ivfkv_corrupt USING `graft-kv`
        OPTIONS (catalog '${IvfKvStore.corpusCatalog}', path '$dir')""")
      val cutoff = spark.table("ivfkv_corrupt")
        .selectExpr("percentile_approx(vec_id, 0.2)").head().getLong(0)
      spark.sql(s"DELETE FROM ivfkv_corrupt WHERE vec_id <= $cutoff")
      // truncate a replaced (retained-for-snapshot) shard: planning's
      // existence check passes, the task-time read blows up
      val old = KvStore.readMetaAsOf(dir, Some(1L))
      val liveFiles = KvStore.readMeta(dir).shards.map(_.file).toSet
      val victim = old.shards.filterNot(s => liveFiles(s.file)).head
      Files.write(java.nio.file.Paths.get(s"$dir/${victim.file}"),
        Array[Byte](1, 2, 3))
      spark.conf.set("graft.ivfMaxDmlFrac", "1.0")
      try {
        val e = intercept[Exception](IvfKvStore.ensure(spark, dir))
        assert(!e.isInstanceOf[IllegalArgumentException], e.toString)
        // and the index was NOT silently advanced past the window
        assert(meta(dir).path("corpusVersion").asLong() == 1,
          "a failed patch must leave the index pinned at its last consistent state")
      } finally spark.conf.unset("graft.ivfMaxDmlFrac")
    } finally spark.sql("DROP TABLE IF EXISTS ivfkv_corrupt")
  }

  test("self-maintenance staging restores the caller's compaction confs") {
    // the q119 stage forces an every-cycle compaction; afterwards the
    // caller's own values must come back, not fall to the defaults
    spark.conf.set("graft.ivfCompactShards", "777")
    spark.conf.set("graft.ivfVacuumGraceMs", "12345")
    try {
      graft.util.Dirs.rmrf(new java.io.File(IvfKvStore.selfMaintStagedRoot(d)))
      IvfKvStore.ensureSelfMaintStageKv(spark, d)
      assert(spark.conf.get("graft.ivfCompactShards") == "777")
      assert(spark.conf.get("graft.ivfVacuumGraceMs") == "12345")
    } finally {
      spark.conf.unset("graft.ivfCompactShards")
      spark.conf.unset("graft.ivfVacuumGraceMs")
    }
  }
}
