package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.kv.{KvCatalog, KvCompactor, KvStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The commit contract of every kind of table commit, pinned in one
  * place: each commit bumps the version by one, stamps the rewrite
  * watermark exactly when it replaced live rows in place, archives the
  * superseded manifest unless it truncated, and keeps the files it
  * replaced on the vacuum grace clock unless it deletes them outright
  * (truncate, compaction without retained inputs). */
class KvCommitSpec extends SparkSpec {

  private def catJson(name: String) =
    s"""{"table":{"name":"$name"},"rowkey":"k","columns":{""" +
      """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
      """"uid":{"cf":"f","col":"u","type":"string"},""" +
      """"v":{"cf":"f","col":"v","type":"long"}}}"""

  private def rows(from: Long, to: Long) = {
    import spark.implicits._
    (from to to).map(k => (k, s"uid-$k", k * 10)).toDF("k", "uid", "v")
  }

  /** An 8-shard, bloom-indexed table registered as SQL table `tbl`. */
  private def freshTable(tbl: String): String = {
    val dir = Files.createTempDirectory(s"graft-kv-$tbl").toString
    rows(1L, 800L).repartitionByRange(8, col("k"))
      .write.format("graft-kv").option("catalog", catJson(tbl)).option("path", dir)
      .option("bloomColumns", "uid").mode("append").save()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""
      CREATE TABLE $tbl USING `graft-kv`
      OPTIONS (catalog '${catJson(tbl)}', path '$dir')""")
    dir
  }

  private def write(tbl: String, dir: String, df: org.apache.spark.sql.DataFrame) =
    df.write.format("graft-kv").option("catalog", catJson(tbl)).option("path", dir)
      .option("bloomColumns", "uid")

  /** Run `commit` once on a fresh table and check the contract.
    * `retains`: None = the kind replaces no files. */
  private def check(tbl: String, stamps: Boolean, archives: Boolean,
                    retains: Option[Boolean])(commit: String => Unit): Unit = {
    val dir = freshTable(tbl)
    val before = KvStore.readMeta(dir)
    assert(before.shards.forall(_.bloom.nonEmpty), s"$tbl: setup writes blooms")
    commit(dir)
    val after = KvStore.readMeta(dir)
    assert(after.version == before.version + 1, s"$tbl: one commit, one version")
    assert((after.lastRewriteVersion == after.version) == stamps,
      s"$tbl: lastRewriteVersion ${after.lastRewriteVersion} at version ${after.version}")
    assert(new File(s"$dir/_kvmeta.v${before.version}.json").exists() == archives,
      s"$tbl: archive of version ${before.version}")
    val liveFiles = after.shards.map(_.file).toSet
    val replaced = before.shards.filterNot(s => liveFiles(s.file))
    def onDisk(f: String) = new File(s"$dir/$f").exists()
    retains match {
      case None => assert(replaced.isEmpty, s"$tbl replaced ${replaced.map(_.file)}")
      case Some(retain) =>
        assert(replaced.nonEmpty, s"$tbl: the commit must replace shards")
        if (retain) assert(replaced.forall(s => onDisk(s.file)),
          s"$tbl: replaced files stay on the grace clock")
        else assert(replaced.forall(s => !onDisk(s.file) && !onDisk(s.bloom)),
          s"$tbl: replaced files and sidecars are deleted by the commit")
        KvCompactor.vacuum(dir, 0L)
        assert(replaced.forall(s => !onDisk(s.file) && !onDisk(s.bloom)),
          s"$tbl: vacuum(0) reclaims every replaced file and its bloom sidecar")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("append") {
    check("kc_append", stamps = false, archives = true, retains = None) { dir =>
      write("kc_append", dir, rows(801L, 900L)).mode("append").save()
    }
  }

  test("tagged append") {
    check("kc_tagged", stamps = false, archives = true, retains = None) { dir =>
      write("kc_tagged", dir, rows(801L, 900L)).option("epoch", "job-7")
        .mode("append").save()
      val tagged = KvStore.readMeta(dir)
      assert(tagged.committedEpochs.contains("job-7"), "the key is recorded in the manifest")
      val files = new File(dir).list().toSet
      write("kc_tagged", dir, rows(901L, 1000L)).option("epoch", "job-7")
        .mode("append").save()
      assert(KvStore.readMeta(dir).version == tagged.version,
        "a repeated key leaves the version unchanged")
      assert(new File(dir).list().toSet == files,
        "a repeated key deletes the append's shards and bloom sidecars")
      assert(spark.table("kc_tagged").count() == 900L)
    }
  }

  test("stream epoch") {
    check("kc_stream", stamps = false, archives = true, retains = None) { dir =>
      val cat = KvCatalog.parse(catJson("kc_stream"))
      val w = new KvDataWriter(dir, cat.schema, cat.schema, "k", 0, 0L,
        bloomColumns = "uid")
      rows(801L, 900L).collect().foreach { r =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(r.getLong(0),
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)), r.getLong(2)))
      }
      new KvStreamingWrite(cat, dir, cat.schema, 256L << 20, "q", "uid")
        .commit(0L, Array(w.commit()))
    }
  }

  test("UPDATE") {
    check("kc_update", stamps = true, archives = true, retains = Some(true)) { _ =>
      spark.sql("UPDATE kc_update SET v = v + 1 WHERE k <= 100")
    }
  }

  test("pushable DELETE") {
    check("kc_pdel", stamps = true, archives = true, retains = Some(true)) { dir =>
      spark.sql("DELETE FROM kc_pdel WHERE k <= 150")
      assert(KvStore.readMeta(dir).shards.exists(_.file.startsWith("shard-delete-")),
        "a pushable DELETE takes the deleteWhere rewrite")
    }
  }

  test("unpushable DELETE") {
    check("kc_udel", stamps = true, archives = true, retains = Some(true)) { dir =>
      spark.sql("DELETE FROM kc_udel WHERE length(uid) > 0 AND k <= 150")
      assert(!KvStore.readMeta(dir).shards.exists(_.file.startsWith("shard-delete-")),
        "an unpushable DELETE takes the group rewrite")
    }
  }

  test("replaceKeyRanges") {
    check("kc_replace", stamps = true, archives = true, retains = Some(true)) { dir =>
      write("kc_replace", dir, rows(101L, 300L))
        .option("replaceKeyRanges", KeyRanges.serializeTyped(LongType, Seq((101L, 300L))))
        .mode("overwrite").save()
    }
  }

  test("truncate") {
    check("kc_truncate", stamps = true, archives = false, retains = Some(false)) { dir =>
      write("kc_truncate", dir, rows(1L, 50L)).mode("overwrite").save()
    }
  }

  test("compaction retaining its inputs") {
    check("kc_compact_r", stamps = false, archives = true, retains = Some(true)) { dir =>
      assert(KvCompactor.compact(dir, 64L << 20, retainInputs = true) == 1)
    }
  }

  test("compaction deleting its inputs") {
    check("kc_compact_d", stamps = false, archives = true, retains = Some(false)) { dir =>
      assert(KvCompactor.compact(dir, 64L << 20) == 1)
    }
  }

  test("zero-row append commits nothing; a fresh table's first write still creates v1") {
    val dir = freshTable("kc_empty")
    val before = KvStore.readMeta(dir)
    val files = new File(dir).list().toSet
    write("kc_empty", dir, rows(1L, 0L)).mode("append").save()
    assert(KvStore.readMeta(dir).version == before.version,
      "an append of no rows leaves the version unchanged")
    assert(new File(dir).list().toSet == files,
      "an append of no rows archives no manifest and writes no file")
    assert(spark.table("kc_empty").count() == 800L)
    spark.sql("DROP TABLE IF EXISTS kc_empty")
    val fresh = Files.createTempDirectory("graft-kv-kc_empty_fresh").toString
    write("kc_empty_fresh", fresh, rows(1L, 0L)).mode("append").save()
    val first = KvStore.readMeta(fresh)
    assert(first.version == 1L && first.shards.isEmpty,
      "the first write to a fresh table creates version 1, rows or not")
  }

  test("zero-row append with an epoch key still records the key") {
    val dir = freshTable("kc_empty_epoch")
    val before = KvStore.readMeta(dir)
    write("kc_empty_epoch", dir, rows(1L, 0L)).option("epoch", "job-0")
      .mode("append").save()
    val after = KvStore.readMeta(dir)
    assert(after.version == before.version + 1 && after.committedEpochs.contains("job-0"),
      "the epoch key must be committed even when the append wrote no rows")
    assert(after.shards.map(_.file) == before.shards.map(_.file))
    spark.sql("DROP TABLE IF EXISTS kc_empty_epoch")
  }

  test("zero-row overwrite still truncates") {
    val dir = freshTable("kc_empty_trunc")
    val before = KvStore.readMeta(dir)
    write("kc_empty_trunc", dir, rows(1L, 0L)).mode("overwrite").save()
    val after = KvStore.readMeta(dir)
    assert(after.version == before.version + 1 && after.shards.isEmpty,
      "an overwrite of no rows empties the table")
    assert(spark.table("kc_empty_trunc").count() == 0L)
    spark.sql("DROP TABLE IF EXISTS kc_empty_trunc")
  }
}
