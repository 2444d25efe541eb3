package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.kv.KvStore
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver aggregates ([[KvAggScan]] in complete-pushdown mode under a
  * [[KvDriverScan]]): a rowkey-bounded aggregate over shards within the
  * one-reader budget folds every surviving shard on the driver and
  * returns final rows, so `collect()` runs no Spark job. Every answer is
  * checked against Spark's own aggregate over the same rows held in a
  * local relation, where nothing is pushed. */
class KvAggOneTaskSpec extends SparkSpec {

  private def catJson(name: String, buckets: Int = 0) =
    s"""{"table":{"name":"$name"},"rowkey":"k",""" +
      (if (buckets > 0) s""""buckets":$buckets,""" else "") +
      """"columns":{"k":{"cf":"rowkey","col":"k","type":"long"},""" +
      """"g":{"cf":"f","col":"g","type":"string"},""" +
      """"uid":{"cf":"f","col":"u","type":"string"},""" +
      """"v":{"cf":"f","col":"v","type":"long"},""" +
      """"d":{"cf":"f","col":"d","type":"double"}}}"""

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("g", StringType),
    StructField("uid", StringType), StructField("v", LongType),
    StructField("d", DoubleType)))

  private def append(dir: String, cat: String, rows: Seq[Row], shards: Int): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartitionByRange(shards, col("k"))
      .write.format("graft-kv").option("catalog", cat).option("path", dir)
      .option("bloomColumns", "uid").mode("append").save()

  private def read(dir: String, cat: String, opts: (String, String)*): DataFrame =
    spark.read.format("graft-kv").option("catalog", cat).option("path", dir)
      .options(opts.toMap).load()

  /** Spark's unpushed answer: the same rows as a local relation. */
  private def reference(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def mode(df: DataFrame): String = PlannedKvScan(df).scan.description()

  test("property: one-task aggregates match Spark's unpushed answer") {
    val rnd = new scala.util.Random(20261020L)
    val dir = Files.createTempDirectory("graft-kv-agg1").toString
    val bdir = Files.createTempDirectory("graft-kv-agg1b").toString
    val cat = catJson("agg1")
    val bcat = catJson("agg1b", buckets = 4)
    // g has three values and NULL; v is NULL on every 9th row; d is a
    // multiple of 1/4, so double sums are exact in any order
    def row(k: Long, tag: String): Row = Row(k,
      if (rnd.nextInt(5) == 0) null else s"g${rnd.nextInt(3)}", s"$tag$k",
      if (k % 9 == 0) null else java.lang.Long.valueOf(rnd.between(-500L, 500L)),
      java.lang.Double.valueOf(rnd.nextInt(400) / 4.0))
    // version 1: keys 0..2999 in six shards; version 2 repeats every 5th
    // key of 0..3499 in three shards that overlap all of version 1
    val v1 = (0L until 3000L).map(row(_, "u"))
    val v2 = (0L until 3500L by 5L).map(row(_, "w"))
    Seq(dir -> cat, bdir -> bcat).foreach { case (d, c) =>
      append(d, c, v1, shards = 6)
      append(d, c, v2, shards = 3)
    }
    assert(KvStore.readMeta(dir).shards.length == 9)
    val byVersion = Map(1L -> v1, 2L -> (v1 ++ v2))
    def key(b: Array[Byte]): Long =
      graft.kv.BytesCodec.decodeKey(LongType, b).asInstanceOf[Long]
    val ends = KvStore.readMeta(dir).shards.map(s => (key(s.minKey), key(s.maxKey)))

    def bounds(): Column = {
      val lo = rnd.between(-50L, 3400L)
      val hi = lo + rnd.between(0L, 2000L)
      rnd.nextInt(3) match {
        case 0 => col("k").between(lo, hi)
        case 1 => col("k") >= lo && col("k") < hi
        case _ => col("k") > lo && col("k") <= hi
      }
    }
    val shapes = Seq[(String, DataFrame => DataFrame)](
      "global" -> (_.agg(count(lit(1)), count(col("v")), min(col("v")), max(col("v")),
        sum(col("v")), min(col("k")), max(col("k")), sum(col("d")), max(col("g")))),
      "manifest" -> (_.agg(count(lit(1)), min(col("k")), max(col("k")),
        min(col("v")), max(col("v")))),
      "by k" -> (_.groupBy(col("k")).agg(count(lit(1)), sum(col("v")), min(col("g")))),
      "by g" -> (_.groupBy(col("g")).agg(count(lit(1)), count(col("v")), max(col("d")),
        sum(col("v")))))

    var manifestMixed = 0
    var bloomSkipped = 0L
    (1 to 40).foreach { i =>
      val (shapeName, shape) = shapes(rnd.nextInt(shapes.length))
      val (tableDir, tableCat, version) = rnd.nextInt(4) match {
        case 0 => (bdir, bcat, 2L)
        case 1 => (dir, cat, 1L)
        case _ => (dir, cat, 2L)
      }
      val opts = if (version == 1L) Seq("asOfVersion" -> "1") else Nil
      var pred = bounds()
      // extra conjuncts: a bloom column, a value column, and rowkey
      // shapes that leave holes in the range (no manifest answer)
      rnd.nextInt(8) match {
        case 0 => pred = pred && col("uid") === s"u${rnd.between(0L, 3000L)}"
        case 1 => pred = pred && col("v") > rnd.between(-400L, 400L)
        case 2 => pred = pred && col("k") =!= rnd.between(0L, 3500L)
        case 3 => // both end keys of one shard, and one key between
          val (lo, hi) = ends(rnd.nextInt(ends.length))
          pred = col("k").isin(lo, hi, rnd.between(lo, hi + 1L))
        case _ => ()
      }
      val df = shape(read(tableDir, tableCat, opts: _*).filter(pred))
      val want = shape(reference(byVersion(version)).filter(pred))
      val what = s"case $i $shapeName v$version ${if (tableDir == bdir) "bucketed " else ""}$pred"
      var got: Seq[String] = Nil
      assert(jobsOf { got = sorted(df) } == 0, s"$what: jobs")
      assert(got == sorted(want), what)
      assert(mode(df).contains("Read: driver"), s"$what: ${mode(df)}")
      val planned = PlannedKvScan(df)
      bloomSkipped += planned.metric("kvShardsSkippedBloom")
      // fewer records decoded than matched: the rest came from the manifest
      val decoded = planned.metric("kvRecordsRead")
      if (shapeName == "manifest" && decoded > 0L && decoded < want.head().getLong(0))
        manifestMixed += 1
    }
    // shards answered from the manifest beside scanned edge shards: the
    // v1 interior shards hold ~500 keys each and lie wholly in the range
    val mixed = read(dir, cat, "asOfVersion" -> "1").filter(col("k").between(10L, 2990L))
      .agg(count(lit(1)), min(col("k")), max(col("k")), min(col("v")), max(col("v")))
    assert(sorted(mixed) == sorted(reference(v1).filter(col("k").between(10L, 2990L))
      .agg(count(lit(1)), min(col("k")), max(col("k")), min(col("v")), max(col("v")))))
    val read1 = PlannedKvScan(mixed).metric("kvRecordsRead")
    assert(read1 > 0L && read1 < 1500L,
      s"only the two edge shards may be scanned, read $read1 of 2981 records")
    // rowkey filters with holes never take the manifest answer, even
    // when both end keys of a shard match them
    val (lo, hi) = KvStore.readMetaAsOf(dir, Some(1L)).shards
      .map(s => (key(s.minKey), key(s.maxKey))).sortBy(_._1).apply(1)
    val mid = (lo + hi) / 2L
    Seq(col("k").isin(lo, hi, mid), col("k").between(lo, hi) && col("k") =!= mid)
      .foreach { holes =>
        val df = shapes(1)._2(read(dir, cat, "asOfVersion" -> "1").filter(holes))
        assert(sorted(df) == sorted(shapes(1)._2(reference(v1).filter(holes))), s"$holes")
      }
    // the same shapes unbounded keep per-shard partials (GROUP BY k
    // streams each shard) and agree with the driver answers' reference
    shapes.foreach { case (shapeName, shape) =>
      val df = shape(read(dir, cat))
      assert(sorted(df) == sorted(shape(reference(v1 ++ v2))), s"unbounded $shapeName")
      assert(mode(df).contains("Read: per shard"), s"$shapeName: ${mode(df)}")
    }
    assert(bloomSkipped > 0L, "vacuity: no case skipped a shard by its bloom sidecar")
    assert(manifestMixed > 0, "vacuity: no random case mixed manifest and scanned shards")

    // ANSI: a checked SUM of large positive values (so no addition order
    // can overflow early) over a random key range raises
    // ARITHMETIC_OVERFLOW exactly when the model's exact total leaves
    // the long range, whichever shards, overlapping ones included, hold
    // the rows
    val odir = Files.createTempDirectory("graft-kv-agg1o").toString
    val ocat = catJson("agg1o")
    val big = Long.MaxValue / 8L
    val o1 = (0L until 64L).map(k => Row(k, "g", s"u$k", big + k, 1.0))
    val o2 = (0L until 64L by 9L).map(k => Row(k, "g", s"w$k", big, 1.0))
    append(odir, ocat, o1, shards = 4)
    append(odir, ocat, o2, shards = 2)
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    var outcomes = Set.empty[Boolean]
    try (1 to 16).foreach { i =>
      val lo = rnd.between(-4L, 64L)
      val hi = lo + rnd.between(0L, 12L)
      val exact = (o1 ++ o2).filter(r => r.getLong(0) >= lo && r.getLong(0) <= hi)
        .map(r => BigInt(r.getLong(3))).sum
      val df = read(odir, ocat).filter(col("k").between(lo, hi)).agg(sum(col("v")))
      assert(mode(df).contains("Read: driver") && mode(df).contains("KvSumCol(v,true)"),
        mode(df))
      val overflows = exact > BigInt(Long.MaxValue)
      outcomes += overflows
      if (overflows) {
        val e = intercept[Exception](df.collect())
        def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
        assert(chain(e).exists {
          case s: org.apache.spark.SparkThrowable => s.getCondition == "ARITHMETIC_OVERFLOW"
          case _ => false
        }, s"ansi case $i [$lo, $hi]: expected ARITHMETIC_OVERFLOW, got: $e")
      } else {
        val r = df.collect().head
        assert((if (r.isNullAt(0)) BigInt(0) else BigInt(r.getLong(0))) == exact,
          s"ansi case $i [$lo, $hi]")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
    assert(outcomes == Set(true, false), "vacuity: both ANSI outcomes must occur")
  }

  test("a provably-empty range answers one row: COUNT 0, MIN and SUM NULL") {
    val dir = Files.createTempDirectory("graft-kv-agg2").toString
    val cat = catJson("agg2")
    append(dir, cat, (1L to 100L).map(k => Row(k, "g", s"u$k", k, 1.0)), shards = 2)
    val df = read(dir, cat).filter(col("k") > 50L && col("k") < 40L)
      .agg(count(lit(1)).as("n"), min(col("v")).as("m"), sum(col("v")).as("s"))
    var got: Array[Row] = Array.empty
    assert(jobsOf { got = df.collect() } == 0)
    assert(got.toSeq == Seq(Row(0L, null, null)))
    assert(mode(df).contains("Read: driver"), mode(df))
    // grouped over nothing: no group, no row
    assert(read(dir, cat).filter(col("k") > 50L && col("k") < 40L)
      .groupBy(col("g")).agg(count(lit(1))).collect().isEmpty)
  }

  test("ANSI: a SUM that overflows only across shards raises ARITHMETIC_OVERFLOW") {
    val dir = Files.createTempDirectory("graft-kv-agg3").toString
    val cat = catJson("agg3")
    // one row per shard: each shard's sum fits a long, their total does not
    append(dir, cat, Seq(Row(1L, "g", "u1", Long.MaxValue - 10L, 1.0)), shards = 1)
    append(dir, cat, Seq(Row(2L, "g", "u2", 100L, 1.0)), shards = 1)
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = read(dir, cat).filter(col("k").between(1L, 2L)).agg(sum(col("v")))
      assert(mode(df).contains("Read: driver") && mode(df).contains("KvSumCol(v,true)"),
        mode(df))
      val e = intercept[Exception](df.collect())
      def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists {
        case s: org.apache.spark.SparkThrowable => s.getCondition == "ARITHMETIC_OVERFLOW"
        case _ => false
      }, s"expected ARITHMETIC_OVERFLOW in the cause chain, got: $e")
      // each shard alone still sums
      assert(read(dir, cat).filter(col("k") === 2L).agg(sum(col("v"))).head().getLong(0) == 100L)
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("a bounded aggregate runs no Spark job; an unbounded one keeps two") {
    val dir = Files.createTempDirectory("graft-kv-agg4").toString
    val cat = catJson("agg4")
    append(dir, cat, (0L until 4000L).map(k => Row(k, s"g${k % 3}", s"u$k", k, 0.5)), shards = 4)
    def collected(df: DataFrame): (Seq[String], Int) = {
      var got: Seq[String] = Nil
      val jobs = jobsOf { got = sorted(df) }
      (got, jobs)
    }
    val agg = (df: DataFrame) => df.agg(count(lit(1)), sum(col("v")), sum(col("d")))
    val bounded = agg(read(dir, cat).filter(col("k").between(100L, 3100L)))
    assert(collected(bounded) == ((Seq("[3001,4801600,1500.5]"), 0)))
    assert(mode(bounded).contains("Read: driver"), mode(bounded))
    // EXPLAIN: the final rows and Spark's aliasing Project over them
    // plan as one LocalTableScan, which names the driver read
    val plan = bounded.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] &&
      plan.toString.contains("Read: driver"), plan.toString)

    val unbounded = agg(read(dir, cat))
    val (all, jobs) = collected(unbounded)
    assert(all == Seq("[4000,7998000,2000.0]") && jobs == 2)
    assert(mode(unbounded).contains("Read: per shard"), mode(unbounded))
    assert(unbounded.queryExecution.executedPlan.toString.contains("Read: per shard"))
    // a value-column bound does not bound the rowkey
    val valueBound = agg(read(dir, cat).filter(col("v") < 10L))
    assert(mode(valueBound).contains("Read: per shard"))
    assert(collected(valueBound) == ((Seq("[10,45,5.0]"), 2)))
    // an incremental read stays distributed
    val since = agg(read(dir, cat, "sinceVersion" -> "0").filter(col("k") < 10L))
    assert(mode(since).contains("Read: per shard"))
    assert(collected(since) == ((Seq("[10,45,5.0]"), 2)))
    // AVG is asked about before Spark rewrites it, then its SUM/COUNT
    // form reads on the driver
    val avgDf = read(dir, cat).filter(col("k") < 10L).agg(avg(col("v")))
    assert(collected(avgDf) == ((Seq("[4.5]"), 0)))
    assert(mode(avgDf).contains("Read: driver"), mode(avgDf))
    // zero surviving shards: the global aggregate's one row, no job
    val none = read(dir, cat).filter(col("k") > 9000L).agg(count(lit(1)), avg(col("v")))
    assert(collected(none) == ((Seq("[0,null]"), 0)))
    assert(PlannedKvScan(none).kv.planInputPartitions().isEmpty, "vacuity: no shard survives")
  }
}
