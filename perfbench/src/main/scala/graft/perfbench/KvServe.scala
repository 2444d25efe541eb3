package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** kv_serve: many short reads against one lineitem-shaped KV table.
  *
  * Op mix, dealt in decks of 25: 60% point gets (IN-lists of 1–20 keys,
  * Zipf-skewed, one in ten keys absent), 24% rowkey range scans over
  * 0.05–2% of the key space (a third of them DESC top-N), 8% pushed
  * cell-filter aggregates, 4% bloom lookups on the `l_tag` cell column and
  * 4% KV ⋈ parquet broadcast joins. */
object KvServe extends Workload {
  val name = "kv_serve"
  val tailPct = 97.0
  val warmupOps = 100
  val Rows = 120000
  val Shards = 16
  val Parts = 2000
  val Tags: Int = Rows / 4

  val Catalog: String =
    """{"table":{"namespace":"bench","name":"lineitem"},"rowkey":"lk","columns":{
      |"lk":{"cf":"rowkey","col":"lk","type":"long"},
      |"l_partkey":{"cf":"l","col":"pk","type":"long"},
      |"l_quantity":{"cf":"l","col":"q","type":"double"},
      |"l_extendedprice":{"cf":"l","col":"p","type":"double"},
      |"l_returnflag":{"cf":"l","col":"rf","type":"string"},
      |"l_shipmode":{"cf":"l","col":"sm","type":"string"},
      |"l_tag":{"cf":"l","col":"tg","type":"string"},
      |"l_comment":{"cf":"l","col":"c","type":"string"}}}""".stripMargin

  private val Flags = Array("A", "N", "R")
  private val Modes = Array("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")

  /** The generated table is a pure function of (seed, row index). */
  final case class Li(lk: Long, partkey: Long, qty: Double, price: Double, flag: String,
                      mode: String, tag: String, comment: String) {
    def row: Row = Row(lk, partkey, qty, price, flag, mode, tag, comment)
  }
  def key(seed: Long, i: Int): Long = i.toLong * 8 + Gen.pick(seed, 1, i, 8)
  def li(seed: Long, i: Int): Li = {
    val pk = 1L + Gen.pick(seed, 2, i, Parts)
    val qty = 1.0 + Gen.pick(seed, 3, i, 50)
    Li(key(seed, i), pk, qty, qty * (900 + pk % 100), Flags(Gen.pick(seed, 4, i, 3)),
      Modes(Gen.pick(seed, 5, i, Modes.length)), s"t${Gen.pick(seed, 6, i, Tags)}",
      Gen.words(seed, 7, i, 4))
  }
  def brand(seed: Long, pk: Long): String = s"Brand#${1 + Gen.pick(seed, 8, pk, 25)}"

  val schema: StructType = StructType(Seq(
    StructField("lk", LongType, nullable = false), StructField("l_partkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipmode", StringType),
    StructField("l_tag", StringType), StructField("l_comment", StringType)))

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val n = Runtime.getRuntime.availableProcessors()
    val rdd = spark.sparkContext.range(0, Rows, numSlices = n).map(i => li(seed, i.toInt).row)
    val table = s"$dir/lineitem"
    spark.createDataFrame(rdd, schema)
      .repartitionByRange(Shards, col("lk"))
      .write.format("graft-kv").option("catalog", Catalog).option("path", table)
      .option("bloomColumns", "l_tag").option("bloomBits", 1 << 16)
      .mode("overwrite").save()
    val partPath = s"$dir/part.parquet"
    val parts = (1L to Parts).map(pk => Row(pk, brand(seed, pk)))
    spark.createDataFrame(spark.sparkContext.parallelize(parts, 1),
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_brand", StringType))))
      .coalesce(1).write.mode("overwrite").parquet(partPath)
    new ServeInstance(spark, seed, table, partPath, seed)
  }

  /** `modelSeed` is the seed the client model is generated from; only the
    * self-test gives it a different value than the table's, to show that
    * wrong expected answers are caught. */
  final class ServeInstance(spark: SparkSession, seed: Long, val table: String,
                            val partPath: String, modelSeed: Long) extends Instance {
    private val rows: Array[Li] = Array.tabulate(Rows)(li(modelSeed, _))
    private val zipf = new Gen.Zipf(Rows, 1.1)
    // hot ranks spread over the key space by a seeded permutation
    private val perm: Array[Int] = {
      val p = Array.range(0, Rows)
      val r = new scala.util.Random(Gen.mix(seed, 9, 0))
      var i = Rows - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    def kvTable: String = table
    def kvCatalogJson: String = Catalog

    private def kv = spark.read.format("graft-kv").option("catalog", Catalog)
      .option("path", table).load()

    private def near(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

    // per 25 ops: 15 gets, 6 scans, 2 aggregates, 1 bloom lookup, 1 join
    private val deck = new Gen.Deck[scala.util.Random => Op](
      Seq.fill(15)(get _) ++ Seq.fill(6)(scan _) ++ Seq.fill(2)(agg _) ++ Seq(bloom _, join _))
    def next(rnd: scala.util.Random, id: Long): Op = deck.draw(rnd)(rnd)

    private def get(rnd: scala.util.Random): Op = {
      val k = 1 + rnd.nextInt(20)
      val idx = Seq.fill(k)(perm(zipf.sample(rnd.nextDouble()))).distinct
      // one key in ten is absent: same slot, different low bits
      val keys = idx.map { i =>
        val kk = rows(i).lk
        if (rnd.nextInt(10) == 0) (kk & ~7L) | ((kk + 1) & 7L) else kk
      }.distinct
      val expect = idx.map(rows(_)).filter(r => keys.contains(r.lk)).map(r => r.lk -> r).toMap
      new Op("get", Read, ctx => {
        val df = ctx.build(kv.filter(col("lk").isin(keys: _*))
          .select("lk", "l_quantity", "l_tag"))
        ctx.collect(df)
      }, res => {
        val got = res.asInstanceOf[Array[Row]]
        if (got.length != expect.size) Some(s"get: ${got.length} rows, expected ${expect.size}")
        else got.find(r => !expect.get(r.getLong(0)).exists(e =>
          e.qty == r.getDouble(1) && e.tag == r.getString(2)))
          .map(r => s"get: wrong row for key ${r.getLong(0)}")
      })
    }

    private def scan(rnd: scala.util.Random): Op = {
      val w = math.max(1, (Rows * (0.0005 + rnd.nextDouble() * 0.0195)).toInt)
      val i0 = rnd.nextInt(Rows - w)
      val lo = rows(i0).lk
      val hi = rows(i0 + w - 1).lk
      if (rnd.nextInt(3) == 0) {
        val topN = 10 + rnd.nextInt(91)
        val expect = (i0 + w - 1 to i0 by -1).take(topN).map(rows(_).lk)
        new Op("scan_desc_topn", Read, ctx => {
          val df = ctx.build(kv.filter(col("lk").between(lo, hi)).select("lk")
            .orderBy(col("lk").desc).limit(topN))
          ctx.collect(df)
        }, res => {
          val got = res.asInstanceOf[Array[Row]].map(_.getLong(0)).toSeq
          if (got == expect) None else Some(s"scan_desc_topn: mismatch over [$lo, $hi]")
        })
      } else {
        val expect = (i0 until i0 + w).map(rows(_))
        val sumP = expect.map(_.price).sum
        new Op("scan", Read, ctx => {
          val df = ctx.build(kv.filter(col("lk").between(lo, hi)).select("lk", "l_extendedprice"))
          ctx.collect(df)
        }, res => {
          val got = res.asInstanceOf[Array[Row]]
          if (got.length != w) Some(s"scan: ${got.length} rows, expected $w")
          else if (got.map(_.getLong(0)).sum != expect.map(_.lk).sum) Some("scan: key sum")
          else if (!near(got.map(_.getDouble(1)).sum, sumP)) Some("scan: price sum")
          else None
        })
      }
    }

    private def agg(rnd: scala.util.Random): Op = {
      val w = Rows / 10
      val i0 = rnd.nextInt(Rows - w)
      val mode = Modes(rnd.nextInt(Modes.length))
      val q = 10.0 + rnd.nextInt(40)
      val sel = (i0 until i0 + w).map(rows(_)).filter(r => r.mode == mode && r.qty < q)
      val expect = sel.groupBy(_.flag).map { case (f, rs) => f -> (rs.length.toLong, rs.map(_.qty).sum) }
      val (lo, hi) = (rows(i0).lk, rows(i0 + w - 1).lk)
      new Op("agg", Read, ctx => {
        val df = ctx.build(kv.filter(col("lk").between(lo, hi) && col("l_shipmode") === mode &&
            col("l_quantity") < q)
          .groupBy("l_returnflag").agg(count(lit(1)), sum("l_quantity")))
        ctx.collect(df)
      }, res => {
        val got = res.asInstanceOf[Array[Row]].map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        if (got.keySet != expect.keySet) Some("agg: groups differ")
        else got.collectFirst { case (f, (c, s)) if c != expect(f)._1 || !near(s, expect(f)._2) =>
          s"agg: group $f differs" }
      })
    }

    private def bloom(rnd: scala.util.Random): Op = {
      val tag = rows(rnd.nextInt(Rows)).tag
      val expect = rows.filter(_.tag == tag).map(_.lk).toSet
      new Op("bloom_get", Read, ctx => {
        val df = ctx.build(kv.filter(col("l_tag") === tag).select("lk"))
        ctx.collect(df)
      }, res => {
        val got = res.asInstanceOf[Array[Row]].map(_.getLong(0)).toSet
        if (got == expect) None else Some(s"bloom_get: ${got.size} keys, expected ${expect.size}")
      })
    }

    private def join(rnd: scala.util.Random): Op = {
      val w = Rows / 50
      val i0 = rnd.nextInt(Rows - w)
      val (lo, hi) = (rows(i0).lk, rows(i0 + w - 1).lk)
      val expect = (i0 until i0 + w).map(i => brand(seed, rows(i).partkey))
        .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
      new Op("join", Read, ctx => {
        val part = spark.read.parquet(partPath)
        val df = ctx.build(kv.filter(col("lk").between(lo, hi))
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand").agg(count(lit(1))))
        ctx.collect(df)
      }, res => {
        val got = res.asInstanceOf[Array[Row]].map(r => r.getString(0) -> r.getLong(1)).toMap
        if (got == expect) None else Some("join: brand counts differ")
      })
    }
  }
}
