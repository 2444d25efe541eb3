package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.kv._

import scala.collection.mutable

/** Traced-run probes of the `kv` layer: timed calls into BytesCodec, the
  * shard writer and reader, the manifest commit, the compactor and the
  * bloom filter, on records read from the workload's own KV table. Each
  * measurement is repeated and its median kept. */
object KvProbe {
  private val Reps = 3
  private val MaxRecords = 60000

  private def timeNs(f: => Unit): Long = {
    val t0 = System.nanoTime(); f; System.nanoTime() - t0
  }

  def run(inst: Instance, runDir: String, tracer: Tracer): Seq[Metric] = {
    def span[T](name: String)(f: => T): T = tracer.span(-1L, "kv", name)(f)
    val table = inst.kvTable
    val meta = KvStore.readMeta(table)
    val cat = KvCatalog.parse(inst.kvCatalogJson)
    val types = cat.columns.filterNot(_.isRowkey).map(c => (c.cf, c.qualifier) -> c.dataType).toMap

    // read: raw record visiting over every live shard
    val readRates = (1 to Reps).map { _ =>
      var rows = 0L
      val ns = span("shard_read") {
        timeNs {
          meta.shards.foreach { s =>
            val r = new KvStore.ShardReader(table, s, lazyStart = true)
            val vis = new KvStore.CellVisitor {
              def startRecord(key: Array[Byte]): Unit = rows += 1
              def cell(cf: String, q: String, buf: Array[Byte], off: Int, len: Int): Unit = ()
              def endRecord(): Unit = ()
            }
            while (r.visitNext(vis)) {}
            r.close()
          }
        }
      }
      rows / (ns / 1e9)
    }

    // sample records, key-sorted and de-duplicated, for the write-side probes
    val recs = {
      val buf = mutable.ArrayBuffer.empty[KvRecord]
      meta.shards.iterator.takeWhile(_ => buf.length < MaxRecords).foreach { s =>
        val r = new KvStore.ShardReader(table, s)
        r.take(MaxRecords - buf.length).foreach(buf += _)
        r.close()
      }
      val sorted = buf.sortWith((x, y) => BytesCodec.compareKeys(x.key, y.key) < 0)
      sorted.indices.filter(i => i == 0 ||
        BytesCodec.compareKeys(sorted(i - 1).key, sorted(i).key) != 0).map(sorted).toVector
    }
    val cells = recs.flatMap(r => r.cells.flatMap(c => types.get((c.cf, c.qualifier)).map(_ -> c.value)))

    val decoded = cells.map { case (dt, b) => dt -> BytesCodec.decode(dt, b) }
    val decodeNs = (1 to Reps).map { _ =>
      span("decode")(timeNs(cells.foreach { case (dt, b) => BytesCodec.decode(dt, b) })).toDouble / cells.length
    }
    val encodeNs = (1 to Reps).map { _ =>
      span("encode")(timeNs(decoded.foreach { case (dt, v) => BytesCodec.encode(dt, v) })).toDouble / cells.length
    }

    // write: the sample as 8 sorted shards, then committed as a table
    val shardsOut = 8
    val per = math.max(1, (recs.length + shardsOut - 1) / shardsOut)
    val scratch = s"$runDir/kvprobe"
    var lastDir = ""
    var lastShards = Seq.empty[KvShardMeta]
    val writeRates = (1 to Reps).map { r =>
      val dir = s"$scratch/w$r"
      var metas = Seq.empty[KvShardMeta]
      val ns = span("shard_write") {
        timeNs {
          metas = recs.grouped(per).zipWithIndex.flatMap { case (g, i) =>
            val w = new KvStore.ShardWriter(dir, f"shard-$i%03d.kv")
            g.foreach(w.append)
            w.close()
          }.toSeq
        }
      }
      lastDir = dir; lastShards = metas
      metas.map(m => new File(s"$dir/${m.file}").length()).sum / 1e6 / (ns / 1e9)
    }

    // commit: writeMeta on a copy of the workload table's live manifest
    val commitDir = s"$scratch/commit"
    Files.createDirectories(Paths.get(commitDir))
    Files.copy(Paths.get(KvStore.metaPath(table)), Paths.get(KvStore.metaPath(commitDir)))
    val commitMs = (1 to 5).map { _ =>
      val m = KvStore.readMeta(commitDir)
      span("commit")(timeNs(KvStore.withTableLock(commitDir)(KvStore.writeMeta(commitDir, m)))) / 1e6
    }

    // compaction + vacuum over the written sample (fresh copy per rep)
    val compactRuns = (1 to Reps).map { r =>
      val dir = s"$scratch/c$r"
      Files.createDirectories(Paths.get(dir))
      lastShards.foreach(s => Files.copy(Paths.get(s"$lastDir/${s.file}"), Paths.get(s"$dir/${s.file}")))
      KvStore.writeMeta(dir, KvTableMeta(lastShards))
      val inBytes = lastShards.map(s => new File(s"$dir/${s.file}").length()).sum
      val before = KvStore.readMeta(dir).shards.map(_.file).toSet
      val cNs = span("compact")(timeNs(KvCompactor.compact(dir, 1L << 40, retainInputs = true): Unit))
      val rewritten = KvStore.readMeta(dir).shards.filterNot(s => before(s.file))
        .map(s => new File(s"$dir/${s.file}").length()).sum
      val vNs = span("vacuum")(timeNs(KvCompactor.vacuum(dir, 0L): Unit))
      (cNs / 1e6, inBytes / 1e6 / (cNs / 1e9), rewritten.toDouble, vNs / 1e6)
    }

    // bloom: membership probes against a filter over the sample's keys
    val b = new KvBloom.Builder(1 << 20, 5, Seq("k"))
    recs.foreach(r => b.add("k", r.key))
    val bloom = b.result()
    val probes = recs.map(_.key) ++ recs.map(r => r.key :+ 1.toByte)
    val bloomNs = (1 to Reps).map { _ =>
      var hits = 0
      val ns = span("bloom")(timeNs(probes.foreach(p => if (bloom.mightContain("k", p)) hits += 1)))
      require(hits >= recs.length, "bloom filter lost a member")
      ns.toDouble / probes.length
    }
    Main.rmrf(new File(scratch))

    Seq(
      Metric("kv.encode_ns_per_cell", Main.median(encodeNs), "ns"),
      Metric("kv.decode_ns_per_cell", Main.median(decodeNs), "ns"),
      Metric("kv.shard_write_mb_s", Main.median(writeRates), "MB/s"),
      Metric("kv.shard_read_rows_s", Main.median(readRates), "rows/s"),
      Metric("kv.commit_ms", Main.median(commitMs), "ms"),
      Metric("kv.compact_ms", Main.median(compactRuns.map(_._1)), "ms"),
      Metric("kv.compact_mb_s", Main.median(compactRuns.map(_._2)), "MB/s"),
      Metric("kv.bytes_rewritten", Main.median(compactRuns.map(_._3)), "bytes"),
      Metric("kv.vacuum_ms", Main.median(compactRuns.map(_._4)), "ms"),
      Metric("kv.bloom_probe_ns", Main.median(bloomNs), "ns"))
  }
}
