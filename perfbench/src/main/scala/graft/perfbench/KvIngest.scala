package graft.perfbench

import java.io.File

import graft.kv.KvStore
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** kv_ingest: writes beside reads on one orders-shaped table created
  * through the SQL catalog.
  *
  * Op mix, dealt in decks of 20: 70% appends of 1000–2000 rows (half past
  * the current tail, half scattered into gaps of the base key space), 15%
  * SQL UPDATE/DELETE over a seeded key range, 15% read-after-write range
  * checks, 5% `asOfVersion` snapshot reads; every 8th commit is followed by
  * `CALL compact` (4 MB shards, so a DML rewrite touches a few shards, not
  * the whole table) then `CALL vacuum`. */
object KvIngest extends Workload {
  val name = "kv_ingest"
  val tailPct = 93.0
  val warmupOps = 30
  val BaseRows = 60000
  val Stride = 16L
  val CompactEvery = 8

  private val Status = Array("O", "F", "P")

  def price(seed: Long, k: Long): Double = 100.0 + Gen.pick(seed, 12, k, 100000) / 100.0
  def row(seed: Long, k: Long, rev: Int, p: Double): Row =
    Row(k, Gen.pick(seed, 11, k, 10000).toLong, Status(Gen.pick(seed, 13, k, 3)), p, rev,
      Gen.words(seed, 14, k, 5))
  /** Encoded bytes of one row as the client submits it: rowkey plus every
    * cell value in the engine's cell encoding. */
  def encodedBytes(r: Row): Long =
    8 + 8 + r.getString(2).getBytes("UTF-8").length + 8 + 4 + r.getString(5).getBytes("UTF-8").length

  val schema: StructType = StructType(Seq(
    StructField("ok", LongType, nullable = false), StructField("o_custkey", LongType),
    StructField("o_status", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_rev", IntegerType), StructField("o_comment", StringType)))

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val cat = "ingest_" + new File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val wh = s"$dir/wh"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.KvSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bench")
    spark.sql(s"CREATE TABLE $cat.bench.orders (ok BIGINT, o_custkey BIGINT, o_status STRING, " +
      "o_totalprice DOUBLE, o_rev INT, o_comment STRING) TBLPROPERTIES ('rowkey'='ok')")
    val table = s"$wh/bench/orders"
    val catJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$table/_kvcatalog.json")), "UTF-8")
    val n = Runtime.getRuntime.availableProcessors()
    val rdd = spark.sparkContext.range(0, BaseRows, numSlices = n)
      .map(i => row(seed, i * Stride, 0, price(seed, i * Stride)))
    spark.createDataFrame(rdd, schema).repartitionByRange(8, col("ok"))
      .write.format("graft-kv").option("catalog", catJson).option("path", table)
      .mode("append").save()
    new IngestInstance(spark, seed, cat, table, catJson)
  }

  final class IngestInstance(spark: SparkSession, seed: Long, cat: String, table: String,
                             catJson: String) extends Instance {
    def kvTable: String = table
    def kvCatalogJson: String = catJson
    private val fq = s"$cat.bench.orders"

    // client model: live key -> (rev, price), plus whole-table totals per version
    private val live = new java.util.TreeMap[java.lang.Long, (Int, Double)]()
    (0L until BaseRows).foreach(i => live.put(i * Stride, (0, price(seed, i * Stride))))
    private var tail = BaseRows * Stride
    private final case class Totals(n: Long, keySum: Long, revSum: Long)
    private var totals = Totals(live.size, live.keySet.asScala.map(_.longValue).sum, 0L)
    private val byVersion = mutable.Map(KvStore.readMeta(table).version -> totals)
    private var readableFrom = 0L
    private var sinceCompact = 0
    private var rowsCommitted = 0L
    private var submitted = 0L
    private var engineWritten = 0L
    // a file is identified by its inode: compaction re-stamps the mtime of
    // inputs it retains, which is not a write
    private val seen = mutable.Set.empty[(AnyRef, Long)]
    private def files(): Seq[File] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new File(table)).filterNot(_.getName == "_kvlock")
    }
    private def stamp(f: File): (AnyRef, Long) = {
      val attrs = java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (attrs.fileKey(), attrs.size())
    }
    files().foreach(f => seen += stamp(f))

    /** Bytes of every file the engine created or rewrote since the last look. */
    private def accountWrites(): Unit = files().foreach { f =>
      val s = stamp(f)
      if (!seen(s)) { seen += s; engineWritten += f.length() }
    }

    private def version(): Long = KvStore.readMeta(table).version
    private def committed(): Unit = {
      accountWrites()
      byVersion(version()) = totals
      sinceCompact += 1
    }

    private def kv = spark.read.format("graft-kv").option("catalog", catJson)
      .option("path", table).load()

    private def randomRange(rnd: scala.util.Random, frac: Double): (Long, Long) = {
      val span = math.max(Stride, (tail * frac).toLong)
      val lo = (rnd.nextDouble() * math.max(1L, tail - span)).toLong
      (lo, lo + span)
    }
    private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

    // per 20 ops: 14 appends, 2 updates, 1 delete, 3 range checks, 1 snapshot
    // read. Appends then make well over half of all ops, so the median op
    // falls inside the append band, not on its edge with the reads; the
    // UPDATE band (~9% of ops) holds the p93 tail.
    private val deck = new Gen.Deck[scala.util.Random => Op](
      Seq.fill(14)(append _) ++ Seq.fill(2)(update _) ++ Seq(delete _) ++
        Seq.fill(3)(rangeCheck _) :+ (snapshot _))
    def next(rnd: scala.util.Random, id: Long): Op =
      if (sinceCompact >= CompactEvery) compact() else deck.draw(rnd)(rnd)

    private def append(rnd: scala.util.Random): Op = {
      val n = 1000 + rnd.nextInt(1001)
      val keys: Seq[Long] =
        if (rnd.nextBoolean()) (0 until n).map(j => tail + j * Stride)
        else {
          val ks = mutable.LinkedHashSet.empty[Long]
          while (ks.size < n) {
            val k = (rnd.nextDouble() * tail).toLong
            if (k % Stride != 0 && !live.containsKey(k)) ks += k
          }
          ks.toSeq
        }
      val rows = keys.map(k => row(seed, k, 0, price(seed, k)))
      val v0 = version()
      new Op("append", Write, ctx => {
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        ctx.span("sources", "write") {
          df.write.format("graft-kv").option("catalog", catJson).option("path", table)
            .mode("append").save()
        }
      }, _ => if (version() == v0 + 1) None else Some(s"append: version ${version()} after $v0"),
      _ => {
        keys.foreach(k => live.put(k, (0, price(seed, k))))
        tail = math.max(tail, keys.max + Stride)
        totals = Totals(totals.n + keys.length, totals.keySum + keys.sum, totals.revSum)
        rowsCommitted += keys.length
        submitted += rows.map(encodedBytes).sum
        committed()
      })
    }

    private def inRange(lo: Long, hi: Long) = live.subMap(lo, true, hi, true)

    private def update(rnd: scala.util.Random): Op = {
      val (lo, hi) = randomRange(rnd, 0.005)
      new Op("update", Write, ctx => ctx.span("sources", "dml") {
        ctx.sql(s"UPDATE $fq SET o_rev = o_rev + 1, o_totalprice = o_totalprice + 1.0 " +
          s"WHERE ok BETWEEN $lo AND $hi")
      }, _ => None, _ => {
        val hit = inRange(lo, hi)
        val ks = hit.keySet.asScala.toSeq
        ks.foreach { k => val (r, p) = hit.get(k); hit.put(k, (r + 1, p + 1.0)) }
        totals = totals.copy(revSum = totals.revSum + ks.length)
        rowsCommitted += ks.length
        submitted += ks.map(k => encodedBytes(row(seed, k, 0, 0.0))).sum
        committed()
      })
    }

    private def delete(rnd: scala.util.Random): Op = {
      val (lo, hi) = randomRange(rnd, 0.005)
      new Op("delete", Write, ctx => ctx.span("sources", "dml") {
        ctx.sql(s"DELETE FROM $fq WHERE ok BETWEEN $lo AND $hi")
      }, _ => None, _ => {
        val hit = inRange(lo, hi)
        val ks = hit.keySet.asScala.map(_.longValue).toSeq
        val revs = ks.map(k => hit.get(k)._1.toLong).sum
        hit.clear()
        totals = Totals(totals.n - ks.length, totals.keySum - ks.sum, totals.revSum - revs)
        rowsCommitted += ks.length
        committed()
      })
    }

    private def rangeCheck(rnd: scala.util.Random): Op = {
      val (lo, hi) = randomRange(rnd, 0.01)
      val hit = inRange(lo, hi).asScala.toSeq
      val (n, ks, rs, ps) = (hit.length.toLong, hit.map(_._1.longValue).sum,
        hit.map(_._2._1.toLong).sum, hit.map(_._2._2).sum)
      new Op("range_check", Read, ctx => {
        val df = ctx.build(kv.filter(col("ok").between(lo, hi))
          .agg(count(lit(1)), sum("ok"), sum("o_rev"), sum("o_totalprice")))
        ctx.collect(df).head
      }, res => {
        val r = res.asInstanceOf[Row]
        val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) 0.0 else r.getDouble(3))
        if (got._1 == n && got._2 == ks && got._3 == rs && near(got._4, ps)) None
        else Some(s"range_check [$lo,$hi]: got $got expected ($n,$ks,$rs,$ps)")
      })
    }

    private def snapshot(rnd: scala.util.Random): Op = {
      val vs = byVersion.keys.filter(_ >= readableFrom).toSeq.sorted
      val v = vs(rnd.nextInt(vs.length))
      val t = byVersion(v)
      new Op("snapshot_read", Read, ctx => {
        val df = ctx.build(spark.read.format("graft-kv").option("catalog", catJson)
          .option("path", table).option("asOfVersion", v).load()
          .agg(count(lit(1)), sum("ok"), sum("o_rev")))
        ctx.collect(df).head
      }, res => {
        val r = res.asInstanceOf[Row]
        val got = Totals(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
        if (got == t) None else Some(s"snapshot_read v$v: got $got expected $t")
      })
    }

    private def compact(): Op = new Op("compact", Maint, ctx => {
      ctx.sql(s"CALL $cat.system.compact(tbl => 'bench.orders', target_mb => 4, retain_inputs => true)")
      ctx.sql(s"CALL $cat.system.vacuum(tbl => 'bench.orders', grace_minutes => 0)")
    }, _ => None, _ => {
      committed()
      sinceCompact = 0
      readableFrom = version()
    })

    override def finish(samples: Seq[Main.Sample]): Seq[Metric] = {
      val writeMs = samples.filter(_.cls == Write).map(_.ms).sum
      val writeAmp = engineWritten.toDouble / math.max(1L, submitted)
      spark.sql(s"CALL $cat.system.compact(tbl => 'bench.orders', target_mb => 4, retain_inputs => false)")
      spark.sql(s"CALL $cat.system.vacuum(tbl => 'bench.orders', grace_minutes => 0)")
      val liveBytes = files().map(_.length()).sum
      val modelBytes = live.asScala.map { case (k, (r, p)) => encodedBytes(row(seed, k, r, p)) }.sum
      Seq(
        Metric("ingest_rows_per_s", rowsCommitted / (writeMs / 1000.0), "rows/s"),
        Metric("write_amp", writeAmp, "ratio"),
        Metric("space_amp", liveBytes.toDouble / modelBytes, "ratio"))
    }
  }
}
