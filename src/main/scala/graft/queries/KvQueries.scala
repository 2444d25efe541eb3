package graft.queries

import java.io.File

import graft.{Q, Tables}
import graft.util.Dirs.{cacheKey, rmrf}
import graft.util.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries through the graft-kv DSv2 connector — the reference's core
  * surface (catalog-declared schema over a sorted KV store with pushdown).
  *
  * Correctness story: lineitem parquet is copied INTO a KV table (write
  * path), read back through the connector (scan + pushdown + pruning),
  * and aggregated; the DuckDB oracle runs the same query against the
  * ORIGINAL parquet. A hash match proves the whole encode → shard →
  * decode → filter pipeline is lossless and correct.
  */
object KvQueries {

  private val catalogJson =
    """{
      |  "table": {"namespace": "default", "name": "lineitem_kv"},
      |  "rowkey": "lk",
      |  "columns": {
      |    "lk": {"cf": "rowkey", "col": "lk", "type": "long"},
      |    "l_orderkey": {"cf": "m", "col": "ok", "type": "long"},
      |    "l_linenumber": {"cf": "m", "col": "ln", "type": "int"},
      |    "l_quantity": {"cf": "m", "col": "qty", "type": "double"},
      |    "l_extendedprice": {"cf": "m", "col": "price", "type": "double"},
      |    "l_discount": {"cf": "m", "col": "disc", "type": "double"},
      |    "l_returnflag": {"cf": "m", "col": "rf", "type": "string"},
      |    "l_linestatus": {"cf": "m", "col": "ls", "type": "string"},
      |    "l_shipdate": {"cf": "m", "col": "sd", "type": "timestamp"}
      |  }
      |}""".stripMargin

  /** Build (once per sfDir per JVM/host) the KV copy of lineitem, range-
    * partitioned on the synthetic rowkey for non-overlapping shards. */
  private def kvDir(s: SparkSession, sfDir: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"lineitem-${cacheKey(sfDir)}")
    if (!new File(s"$dir/_kvmeta.json").exists()) {
      Tables.lineitem(s, sfDir)
        .withColumn("lk", col("l_orderkey") * 100 + col("l_linenumber"))
        .select("lk", "l_orderkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
                "l_shipdate")
        .repartitionByRange(16, col("lk"))
        .write.format("graft-kv")
        .option("catalog", catalogJson).option("path", dir)
        .mode("overwrite").save()
    }
    dir
  }

  /** Build-if-absent for the lineitem KV table, exposed for Bench's
    * per-child warmup: the untimed builder work is the TABLE BUILD
    * (once per host — the cache dir persists across JVMs), not a full
    * q70 execution; when the table exists this is a metadata stat. */
  def ensureLineitemKv(s: SparkSession, sfDir: String): Unit =
    kvDir(s, sfDir): Unit

  private def kv(s: SparkSession, sfDir: String): DataFrame =
    s.read.format("graft-kv")
      .option("catalog", catalogJson).option("path", kvDir(s, sfDir)).load()

  /** Parquet → KV write → KV scan with value filters (pushed) → agg.
    * Exercises EqualTo + LessThan pushdown on cell columns. */
  val q70KvScanFilter: Q = Q(
    "q70_kv_scan_filter",
    (s, d) =>
      kv(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_linestatus")),
    Some(s"""
      SELECT l_linestatus, count(*) AS n,
             ${sqlDsum("l_quantity")} AS sum_qty,
             ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem
      WHERE l_returnflag = 'R' AND l_quantity < 10
      GROUP BY l_linestatus
      ORDER BY l_linestatus"""),
    doc = "KV round-trip + cell-filter pushdown")

  /** Rowkey-range query: shard pruning + in-shard range clip, the
    * reference's open TODO done (HbasePartitionReader.scala:147). */
  val q71KvRowkeyRange: Q = Q(
    "q71_kv_rowkey_range",
    (s, d) =>
      kv(s, d)
        .filter(col("lk") >= 100000L && col("lk") < 200000L)
        .select(col("lk"), col("l_orderkey"), col("l_linenumber"),
                col("l_quantity"), col("l_shipdate"))
        .orderBy(col("lk")),
    Some("""
      SELECT l_orderkey * 100 + l_linenumber AS lk, l_orderkey, l_linenumber,
             l_quantity, l_shipdate
      FROM lineitem
      WHERE l_orderkey * 100 + l_linenumber >= 100000
        AND l_orderkey * 100 + l_linenumber < 200000
      ORDER BY lk"""),
    doc = "rowkey-range shard pruning")

  /** The reference's canonical predicate shape — IN + OR across rowkey
    * and a cell column (`ScalaDatasourceTest.scala:88-91`) — via
    * spark.sql over a temp view of the connector, exactly how the
    * reference is used. */
  val q72KvCanonical: Q = Q(
    "q72_kv_canonical",
    (s, d) => {
      kv(s, d).createOrReplaceTempView("lineitem_kv")
      s.sql("""
        SELECT lk, l_orderkey, l_quantity, l_returnflag
        FROM lineitem_kv
        WHERE lk IN (101, 102, 103, 104, 105) OR l_quantity = 50.0
        ORDER BY lk""")
    },
    Some("""
      SELECT l_orderkey * 100 + l_linenumber AS lk, l_orderkey, l_quantity, l_returnflag
      FROM lineitem
      WHERE (l_orderkey * 100 + l_linenumber) IN (101, 102, 103, 104, 105)
         OR l_quantity = 50.0
      ORDER BY lk"""),
    doc = "reference canonical IN+OR over temp view")

  /** The reference's Java demo shape — `key <= K ORDER BY key DESC LIMIT n`
    * (`/root/reference/src/test/java/JavaDatasourceTest.java:40`) plus a
    * cell filter: shard pruning from the rowkey bound, then a pushed
    * DESC tail scan returning ≤ n rows per surviving shard (the ring-
    * buffer reader — no full-shard materialization). */
  val q83KvTopnDesc: Q = Q(
    "q83_kv_topn_desc",
    (s, d) =>
      kv(s, d)
        .filter(col("lk") <= 500000L && col("l_returnflag") === "A")
        .select(col("lk"), col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .orderBy(col("lk").desc)
        .limit(40),
    Some("""
      SELECT l_orderkey * 100 + l_linenumber AS lk, l_orderkey, l_quantity, l_returnflag
      FROM lineitem
      WHERE l_orderkey * 100 + l_linenumber <= 500000 AND l_returnflag = 'A'
      ORDER BY lk DESC
      LIMIT 40"""),
    doc = "reference Java-demo shape: rowkey bound + DESC top-N tail scan")

  /** Runtime (DPP-style) shard pruning through a real join: the KV
    * lineitem table (16 range-partitioned shards) is the probe side of a
    * broadcast join whose build side — a selectively filtered parquet
    * scan — is only known at runtime. Spark's PartitionPruning rule sees
    * `SupportsRuntimeFiltering.filterAttributes() == [lk]`, evaluates the
    * broadcasted build keys, and calls `KvScan.filter(In(lk, …))`, which
    * re-prunes shards by the IN-set's key range before any probe-side
    * byte is read ([[graft.sources.KvScan]] `filter`/`rowkeyRange`). At
    * 100 TB this is the difference between scanning every region and
    * scanning the few the build side actually touches. */
  val q85KvRuntimeFilter: Q = Q(
    "q85_kv_runtime_filter",
    (s, d) => {
      val build = Tables.lineitem(s, d)
        .filter(col("l_quantity") === 50.0 && col("l_orderkey") < 30000)
        .select((col("l_orderkey") * 100 + col("l_linenumber")).as("blk"))
      kv(s, d)
        .join(broadcast(build), col("lk") === col("blk"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem
      JOIN (SELECT l_orderkey * 100 + l_linenumber AS blk FROM lineitem
            WHERE l_quantity = 50.0 AND l_orderkey < 30000) b
        ON l_orderkey * 100 + l_linenumber = blk
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "runtime filter (DPP): broadcast build side re-prunes KV shards at execution")

  /** Extended-type catalog (SURVEY.md §1.3/§1.4): every KV cell type
    * beyond the long/int/double/string/timestamp set the other KV
    * queries hash-check — decimal, date, short, byte, binary, float,
    * array<float>, map<string,string>. */
  private val typesCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "part_types_kv"},
      |  "rowkey": "p_partkey",
      |  "columns": {
      |    "p_partkey": {"cf": "rowkey", "col": "p_partkey", "type": "long"},
      |    "dec": {"cf": "t", "col": "dec", "type": "decimal(12,2)"},
      |    "dt":  {"cf": "t", "col": "dt", "type": "date"},
      |    "sh":  {"cf": "t", "col": "sh", "type": "short"},
      |    "by":  {"cf": "t", "col": "by", "type": "byte"},
      |    "bin": {"cf": "t", "col": "bin", "type": "binary"},
      |    "fl":  {"cf": "t", "col": "fl", "type": "float"},
      |    "vec": {"cf": "t", "col": "vec", "type": "array<float>"},
      |    "props": {"cf": "t", "col": "props", "type": "map<string,string>"}
      |  }
      |}""".stripMargin

  /** Build (once per sfDir) a KV table whose cells cover the extended
    * type matrix, derived deterministically from `part` with exact
    * integer/decimal/dyadic arithmetic so the DuckDB oracle can replay
    * the identical derivation from the original parquet. Negative
    * shorts/bytes are deliberate — the sign-flip key/value paths must
    * survive the gate, not just unit tests. */
  private def typesKvDir(s: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.types.DecimalType
    val dir = graft.kv.KvStore.cacheDir(s"part-types-${cacheKey(sfDir)}")
    if (!new File(s"$dir/_kvmeta.json").exists()) {
      Tables.part(s, sfDir)
        .select(
          col("p_partkey"),
          (col("p_partkey").cast(DecimalType(10, 0)) *
            lit("0.25").cast(DecimalType(3, 2))).cast(DecimalType(12, 2)).as("dec"),
          date_add(lit("1995-01-01").cast("date"), col("p_size")).as("dt"),
          (col("p_partkey") % 1000 - 500).cast("short").as("sh"),
          (col("p_size") % 100 - 50).cast("byte").as("by"),
          col("p_brand").cast("binary").as("bin"),
          (col("p_size").cast("float") + lit(0.5f)).as("fl"),
          array(col("p_size").cast("float"), (col("p_partkey") % 7).cast("float")).as("vec"),
          map(lit("brand"), col("p_brand"), lit("type"), col("p_type")).as("props"))
        .repartitionByRange(8, col("p_partkey"))
        .write.format("graft-kv")
        .option("catalog", typesCatalogJson).option("path", dir)
        .mode("overwrite").save()
    }
    dir
  }

  /** Extended-type round-trip through the DuckDB gate: decimal, date,
    * short and byte are decoded from KV cells (with a pushed short-range
    * filter exercising the sign-flip order); binary surfaces as hex,
    * array<float>/map<string,string> as extracted elements — the KV
    * decode of every extended type feeds a hashed output column.
    *
    * Output-type note: the driver's hasher canonicalizes decimal128 /
    * int16 / int8 differently from DuckDB (r5 verdict — values exact per
    * tools/check_oracle.py, hash red), so the OUTPUT columns are cast to
    * hash-stable types on BOTH engines: dec → double (a dyadic .25
    * multiple of an integer — the conversion is exact), sh/by → int.
    * The catalog types, the decode paths and the pushed smallint filter
    * are unchanged — the cast happens after the scan. */
  val q84KvTypes: Q = Q(
    "q84_kv_types",
    (s, d) =>
      s.read.format("graft-kv")
        .option("catalog", typesCatalogJson).option("path", typesKvDir(s, d)).load()
        .filter(col("sh") >= -250 && col("sh") < 250 && col("dt") > lit("1995-01-10").cast("date"))
        .select(
          col("p_partkey"),
          col("dec").cast("double").as("dec"),
          col("dt"),
          col("sh").cast("int").as("sh"),
          col("by").cast("int").as("by"),
          hex(col("bin")).as("bin_hex"),
          col("fl").cast("double").as("fl_d"),
          element_at(col("vec"), 1).cast("double").as("v0"),
          element_at(col("vec"), 2).cast("double").as("v1"),
          element_at(col("props"), "brand").as("brand"),
          element_at(col("props"), "type").as("ptype"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             CAST(CAST(CAST(p_partkey AS DECIMAL(10,0)) * CAST(0.25 AS DECIMAL(3,2)) AS DECIMAL(12,2)) AS DOUBLE) AS dec,
             DATE '1995-01-01' + p_size AS dt,
             CAST(CAST(p_partkey % 1000 - 500 AS SMALLINT) AS INT) AS sh,
             CAST(CAST(p_size % 100 - 50 AS TINYINT) AS INT) AS by,
             hex(encode(p_brand)) AS bin_hex,
             CAST(CAST(p_size AS REAL) + CAST(0.5 AS REAL) AS DOUBLE) AS fl_d,
             CAST(CAST(p_size AS REAL) AS DOUBLE) AS v0,
             CAST(CAST(p_partkey % 7 AS REAL) AS DOUBLE) AS v1,
             p_brand AS brand,
             p_type AS ptype
      FROM part
      WHERE CAST(p_partkey % 1000 - 500 AS SMALLINT) >= -250
        AND CAST(p_partkey % 1000 - 500 AS SMALLINT) < 250
        AND DATE '1995-01-01' + p_size > DATE '1995-01-10'
      ORDER BY p_partkey"""),
    doc = "extended-type KV round-trip: decimal/date/short/byte/binary/float/array/map")

  private val ordersCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "orders_kv"},
      |  "rowkey": "o_orderkey",
      |  "columns": {
      |    "o_orderkey": {"cf": "rowkey", "col": "o_orderkey", "type": "long"},
      |    "o_custkey": {"cf": "m", "col": "ck", "type": "long"},
      |    "o_orderstatus": {"cf": "m", "col": "st", "type": "string"},
      |    "o_totalprice": {"cf": "m", "col": "tp", "type": "double"},
      |    "o_orderpriority": {"cf": "m", "col": "pr", "type": "string"}
      |  }
      |}""".stripMargin

  /** Build (once per sfDir) a KV `orders` table the way a long-lived
    * ingest leaves one: 8 interleaved append batches with a small chunk
    * size, so the manifest accumulates MANY small sorted runs whose key
    * ranges all overlap (each batch carries keys ≡ i mod 8 across the
    * whole key space — shard pruning can skip nothing). Then run the
    * LSM-style maintenance the engine ships for exactly this state:
    * compact (retaining inputs, the concurrent-scan-safe mode) +
    * vacuum, and fail loudly if either half didn't actually shrink the
    * table. Queries read the post-maintenance manifest. */
  private def compactedOrdersDir(s: SparkSession, sfDir: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"orders-compacted-${cacheKey(sfDir)}")
    val done = new File(s"$dir/_compact_done")
    if (!done.exists()) {
      // a marker-less dir is a partial build — start clean
      Option(new File(dir).listFiles()).getOrElse(Array.empty).foreach(_.delete())
      val orders = Tables.orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
      (0 until 8).foreach { i =>
        orders.filter(pmod(col("o_orderkey"), lit(8)) === i)
          .write.format("graft-kv")
          .option("catalog", ordersCatalogJson).option("path", dir)
          .option("chunkBytes", (256L << 10).toString) // force many small runs
          .mode("append").save()
      }
      val before = graft.kv.KvStore.readMeta(dir).shards.length
      graft.kv.KvCompactor.compact(dir, targetBytes = 64L << 20, retainInputs = true)
      graft.kv.KvCompactor.vacuum(dir, graceMs = 0L)
      val after = graft.kv.KvStore.readMeta(dir)
      require(after.shards.length < before,
        s"compaction did not shrink the manifest ($before -> ${after.shards.length})")
      val onDisk = Option(new File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".kv"))
      require(onDisk == after.shards.length,
        s"vacuum left $onDisk shard files for ${after.shards.length} manifest entries")
      done.createNewFile()
    }
    dir
  }

  /** Build (once per sfDir) a KV `orders` table through the STREAMING
    * sink: the source parquet is split into 8 files and streamed with
    * `Trigger.AvailableNow` + `maxFilesPerTrigger=1`, so the table is
    * assembled by ≥ 8 separate epoch commits — the idempotent, atomic
    * manifest appends a long-lived ingest stream performs. The builder
    * fails loudly unless multiple epochs actually committed. */
  private def streamedOrdersDir(s: SparkSession, sfDir: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"orders-streamed-${cacheKey(sfDir)}")
    val done = new File(s"$dir/_stream_done")
    if (!done.exists()) {
      rmrf(new File(dir))
      rmrf(new File(s"$dir-ckpt"))
      rmrf(new File(s"$dir-src"))
      val src = Tables.orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
      src.repartition(8).write.parquet(s"$dir-src")
      val q = s.readStream
        .schema(src.schema)
        .option("maxFilesPerTrigger", 1) // one source file per micro-batch
        .parquet(s"$dir-src")
        .writeStream.format("graft-kv")
        .option("catalog", ordersCatalogJson).option("path", dir)
        .option("checkpointLocation", s"$dir-ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val meta = graft.kv.KvStore.readMeta(dir)
      require(meta.committedEpochs.length >= 2,
        s"expected multiple streaming epochs, got ${meta.committedEpochs.length}")
      done.createNewFile()
      // build-only artifacts (source parquet copy + stream checkpoint)
      // are dead once the marker exists — don't leave them on disk
      rmrf(new File(s"$dir-ckpt"))
      rmrf(new File(s"$dir-src"))
    }
    dir
  }

  /** Structured-Streaming ingest → batch pushdown scan: the epoch-
    * committed table must be indistinguishable from a batch-written
    * one, hash-checked against the original parquet. */
  val q82KvStreamed: Q = Q(
    "q82_kv_streamed",
    (s, d) =>
      s.read.format("graft-kv")
        .option("catalog", ordersCatalogJson)
        .option("path", streamedOrdersDir(s, d)).load()
        .filter(col("o_custkey") % 10 === 3)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("o_totalprice")).as("sum_price"),
             min(col("o_orderkey")).as("min_ok"))
        .orderBy(col("o_orderstatus")),
    Some(s"""
      SELECT o_orderstatus, count(*) AS n,
             ${sqlDsum("o_totalprice")} AS sum_price,
             min(o_orderkey) AS min_ok
      FROM orders
      WHERE o_custkey % 10 = 3
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),
    doc = "multi-epoch streaming-sink ingest -> batch pushdown scan round-trip")

  /** Append-heavy ingest → compact → vacuum → pushdown scan: the full
    * storage-maintenance loop, hash-checked against the original
    * parquet. The rowkey range + cell filter both push into the scan,
    * now over range-tight compacted shards. */
  val q81KvCompacted: Q = Q(
    "q81_kv_compacted",
    (s, d) =>
      s.read.format("graft-kv")
        .option("catalog", ordersCatalogJson)
        .option("path", compactedOrdersDir(s, d)).load()
        .filter(col("o_orderkey") < 100000L && col("o_orderstatus") === "O")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             dsum(col("o_totalprice")).as("sum_price"),
             max(col("o_custkey")).as("max_cust"))
        .orderBy(col("o_orderpriority")),
    Some(s"""
      SELECT o_orderpriority, count(*) AS n,
             ${sqlDsum("o_totalprice")} AS sum_price,
             max(o_custkey) AS max_cust
      FROM orders
      WHERE o_orderkey < 100000 AND o_orderstatus = 'O'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    doc = "append ingest -> compact -> vacuum -> pushdown scan round-trip")

  private val zonedCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "orders_zoned"},
      |  "rowkey": "o_orderkey",
      |  "columns": {
      |    "o_orderkey": {"cf": "rowkey", "col": "o_orderkey", "type": "long"},
      |    "v": {"cf": "z", "col": "v", "type": "long"},
      |    "o_totalprice": {"cf": "z", "col": "tp", "type": "double"}
      |  }
      |}""".stripMargin

  /** Build (once per sfDir) a range-partitioned KV orders table whose
    * cell column `v = 3·o_orderkey + 7` is monotone in the rowkey —
    * every shard's zone map covers a disjoint `v` range, the shape
    * value-column pruning exploits. */
  private def zonedOrdersDir(s: SparkSession, sfDir: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"orders-zoned-${cacheKey(sfDir)}")
    if (!new File(s"$dir/_kvmeta.json").exists()) {
      Tables.orders(s, sfDir)
        .select(col("o_orderkey"),
                (col("o_orderkey") * 3 + 7).as("v"),
                col("o_totalprice"))
        .repartitionByRange(16, col("o_orderkey"))
        .write.format("graft-kv")
        .option("catalog", zonedCatalogJson).option("path", dir)
        .mode("overwrite").save()
    }
    dir
  }

  /** Zone-map pruning through the gate: a VALUE-column window (no rowkey
    * predicate at all) that covers ⅛ of the key domain — the scan keeps
    * only the shards whose recorded `v` bounds intersect the window
    * (verified at plan level by KvConnectorSpec's zone-map test) and the
    * surviving rows hash-check against DuckDB replaying the identical
    * derivation and window arithmetic on the original parquet. The
    * window bounds derive from min/max(o_orderkey) with integer
    * arithmetic mirrored textually (Spark long division ≡ DuckDB `//`
    * on the positive domain), so the query is non-vacuous at every
    * scale factor. */
  val q86KvZoneMap: Q = Q(
    "q86_kv_zonemap",
    (s, d) => {
      import org.apache.spark.sql.Row
      // two scalars from the driver — the documented bounded collect
      // (same pattern as the IVF centroid sample, Similarity.scala)
      val Row(mn: Long, mx: Long) = Tables.orders(s, d)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val vlo = 3L * (mn + (mx - mn) * 2L / 8L) + 7L
      val vhi = 3L * (mn + (mx - mn) * 3L / 8L) + 7L
      s.read.format("graft-kv")
        .option("catalog", zonedCatalogJson).option("path", zonedOrdersDir(s, d)).load()
        .filter(col("v") >= vlo && col("v") <= vhi)
        .select(col("o_orderkey"), col("v"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders),
           w AS (SELECT 3*(mn + (mx-mn)*2//8)+7 AS vlo,
                        3*(mn + (mx-mn)*3//8)+7 AS vhi FROM b)
      SELECT o_orderkey, 3*o_orderkey+7 AS v, o_totalprice
      FROM orders, w
      WHERE 3*o_orderkey+7 >= vlo AND 3*o_orderkey+7 <= vhi
      ORDER BY o_orderkey"""),
    doc = "zone-map shard pruning on a value-column window, hash-checked")

  /** Grouped aggregate pushdown gate (§2.4 deepening — the reference has
    * no aggregate pushdown at all): COUNT(*)/MIN/MAX/SUM grouped by a
    * cell column run INSIDE the scan, one partial row per group per shard
    * (`sources/KvAggScan.scala`); Spark's final aggregate merges ~4
    * groups × 16 shards partials instead of shuffling whole rows. The
    * plan shows `PushedAggregates` + `PushedGroupBy: [l_returnflag]`;
    * the filter additionally proves pushed predicates compose with
    * grouped partials. Hash-checked against DuckDB on the original
    * parquet. */
  val q95KvGroupedAgg: Q = Q(
    "q95_kv_grouped_agg",
    (s, d) =>
      kv(s, d)
        .filter(col("l_quantity") >= 5.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             count(col("l_linestatus")).as("n_ls"),
             min(col("l_quantity")).as("min_qty"),
             max(col("l_quantity")).as("max_qty"),
             max(col("l_shipdate")).as("max_sd"),
             sum(col("l_linenumber")).as("sum_ln"),
             // Spark itself rewrites avg → pushed Sum+Count partials
             // (both translate here); exact for an integral column —
             // the final divide is one IEEE op on exact longs, so the
             // cross-engine hash holds
             avg(col("l_linenumber")).as("avg_ln"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag, count(*) AS n, count(l_linestatus) AS n_ls,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             max(l_shipdate) AS max_sd, CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
             avg(l_linenumber) AS avg_ln
      FROM lineitem
      WHERE l_quantity >= 5.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "grouped aggregate pushdown: per-shard COUNT/MIN/MAX/SUM(+AVG via sum/count) partials")

  /** Extended-filter pushdown gate: `<>` (arrives as Not(EqualTo) — the
    * scan evaluates the subtree in SQL three-valued logic) and a string
    * suffix test, both pushed into the scan. The reference leaves all
    * three of EndsWith/Not/EqualNullSafe residual because HBase byte
    * comparators can't express them (`HbaseScanBuilder.scala:46`); this
    * engine filters decoded values, where they are one compare each —
    * residual evaluation would materialize full rows above the scan.
    * Hash-checked against DuckDB on the original parquet. */
  val q96KvFilterExtras: Q = Q(
    "q96_kv_filter_extras",
    (s, d) =>
      kv(s, d)
        .filter(col("l_returnflag") =!= "N" &&
                col("l_linestatus").endsWith("F") &&
                col("l_quantity") >= 45.0)
        .select(col("lk"), col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
        .orderBy(col("lk")),
    Some("""
      SELECT l_orderkey * 100 + l_linenumber AS lk,
             l_returnflag, l_linestatus, l_quantity
      FROM lineitem
      WHERE l_returnflag <> 'N' AND l_linestatus LIKE '%F' AND l_quantity >= 45.0
      ORDER BY lk"""),
    doc = "pushed <> (three-valued Not) + string-suffix filters on the KV scan")

  private val docsCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "documents_kv"},
      |  "rowkey": "rk",
      |  "columns": {
      |    "rk": {"cf": "rowkey", "col": "rk", "type": "string"},
      |    "doc_id": {"cf": "d", "col": "id", "type": "long"},
      |    "lang": {"cf": "d", "col": "lg", "type": "string"},
      |    "n_chars": {"cf": "d", "col": "nc", "type": "long"}
      |  }
      |}""".stripMargin

  /** Composite STRING rowkey table ("<lang>#<doc_id zero-padded>"), the
    * HBase idiom every multi-tenant / per-language layout uses; built
    * once per corpus like the lineitem KV table. */
  private def docsKvDir(s: SparkSession, sfDir: String): String = {
    // "-bloom" in the cache key: older cached builds lack the doc_id
    // bloom sidecars q101 exercises and must not be reused
    val dir = graft.kv.KvStore.cacheDir(s"documents-bloom-${cacheKey(sfDir)}")
    if (!new File(s"$dir/_kvmeta.json").exists()) {
      Tables.documents(s, sfDir)
        .select(
          concat(col("lang"), lit("#"), lpad(col("doc_id").cast("string"), 12, "0")).as("rk"),
          col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
        .repartitionByRange(16, col("rk"))
        .write.format("graft-kv")
        .option("catalog", docsCatalogJson).option("path", dir)
        // doc_id is the bloom workload: rowkey order is lang-first, so
        // every lang shard's doc_id zone-map bounds span ~the whole id
        // space — only the sidecar can answer a point probe
        .option("bloomColumns", "doc_id")
        .mode("overwrite").save()
    }
    dir
  }

  /** Rowkey PREFIX seek gate: `rk LIKE 'en#%'` arrives as StringStartsWith
    * on the string rowkey and plans as the range [p, successor(p)) —
    * shard pruning + in-shard clip, zero full-table work
    * (`KvScan.rowkeyRange`). The reference's HBase client would issue a
    * PrefixFilter full scan here; this engine seeks. Hash-checked
    * against DuckDB building the same composite key from parquet. */
  val q97KvPrefixSeek: Q = Q(
    "q97_kv_prefix_seek",
    (s, d) =>
      s.read.format("graft-kv")
        .option("catalog", docsCatalogJson).option("path", docsKvDir(s, d)).load()
        .filter(col("rk").startsWith("en#"))
        .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("rk")),
    Some("""
      SELECT lang || '#' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS rk,
             doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
      WHERE lang = 'en'
      ORDER BY rk"""),
    doc = "string-rowkey prefix seek: StartsWith plans a key range, not a scan")

  /** Multi-range rowkey gate: a sparse IN across the whole keyspace OR
    * a narrow contiguous band. The planner compiles this to a UNION of
    * disjoint key ranges ([[graft.sources.KeyRanges]]) — one point range
    * per IN literal plus one band — so every shard outside ALL ranges is
    * pruned at plan time and in-shard gap records skip cell parsing. The
    * previous single-span planner would have collapsed this to
    * [101, 4800002] and scanned nearly every shard; at 100 TB that is
    * the difference between a handful of region-seeks and a full-table
    * scan on the classic KV point-lookup pattern. */
  val q100KvMultiRange: Q = Q(
    "q100_kv_multirange",
    (s, d) =>
      kv(s, d)
        .filter(col("lk").isin(101L, 102L, 103L, 60001L, 120003L, 300002L,
            600004L, 1200001L, 2400003L, 4800002L) ||
          (col("lk") >= 100000L && col("lk") <= 100400L))
        .select(col("lk"), col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .orderBy(col("lk")),
    Some("""
      SELECT l_orderkey * 100 + l_linenumber AS lk, l_orderkey, l_quantity, l_returnflag
      FROM lineitem
      WHERE (l_orderkey * 100 + l_linenumber) IN (101, 102, 103, 60001, 120003,
              300002, 600004, 1200001, 2400003, 4800002)
         OR (l_orderkey * 100 + l_linenumber BETWEEN 100000 AND 100400)
      ORDER BY lk"""),
    doc = "sparse IN + band plans disjoint key ranges, not one envelope span")

  /** Bloom-sidecar gate: point IN on `doc_id`, a column whose values
    * scatter across every lang-sorted shard — zone maps keep all 16
    * shards, the per-shard bloom sidecars skip the non-holders
    * executor-side ([[graft.kv.KvBloom]], metric
    * `kvShardsSkippedBloom`; KvBloomSpec asserts the skip counts).
    * Hash-checked against DuckDB on the original parquet. */
  val q101KvBloomPoint: Q = Q(
    "q101_kv_bloom_point",
    (s, d) =>
      s.read.format("graft-kv")
        .option("catalog", docsCatalogJson).option("path", docsKvDir(s, d)).load()
        .filter(col("doc_id").isin(42L, 777L, 4242L, 999999983L))
        .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("rk")),
    Some("""
      SELECT lang || '#' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS rk,
             doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
      WHERE doc_id IN (42, 777, 4242, 999999983)
      ORDER BY rk"""),
    doc = "bloom-sidecar point lookup: executor-side shard skip on a cell column")

  /** Bloom-assisted runtime JOIN filter (q101's static IN, made
    * dynamic): the probe side is the lang-sorted KV documents table
    * whose `doc_id` zone-map bounds are useless (every shard spans ~the
    * whole id space), and the build side — a selectively filtered
    * parquet scan — is only known at runtime. Spark's PartitionPruning
    * sees `doc_id` in `filterAttributes()`, evaluates the broadcasted
    * build keys, and hands the scan `In(doc_id, …)`
    * ([[graft.sources.KvScan]] `filter`); each task then consults its
    * shard's bloom sidecar and skips shards holding NONE of the build
    * ids (metric `kvShardsSkippedBloom`; KvBloomSpec asserts >0 skips
    * and zero false skips under fuzz). At 100 TB this turns a
    * dim-filtered fact join from "scan every region" into "read the few
    * regions the build side touches" — parquet row-group blooms under
    * DPP, re-expressed for the KV store. */
  val q107KvBloomJoin: Q = Q(
    "q107_kv_bloom_join",
    (s, d) => {
      val build = Tables.documents(s, d)
        .filter(col("source") === "src7" && col("doc_id") % 11 === 3)
        .select(col("doc_id").as("bid"))
      s.read.format("graft-kv")
        .option("catalog", docsCatalogJson).option("path", docsKvDir(s, d)).load()
        .join(broadcast(build), col("doc_id") === col("bid"))
        .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("rk"))
    },
    Some("""
      SELECT lang || '#' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS rk,
             doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM documents
                       WHERE source = 'src7' AND doc_id % 11 = 3)
      ORDER BY rk"""),
    doc = "bloom-assisted runtime join filter: build-side IN-set skips shards executor-side")

  /** SQL-catalog gate ([[graft.sources.KvSqlCatalog]]): the table is
    * CREATED with `CREATE TABLE … AS SELECT` through the `graft_gate`
    * catalog — no temp view, no inline catalog JSON — and every read is
    * a plain SQL identifier. The loaded table is the same [[graft.sources.KvTable]]
    * the path reader builds, so rowkey-range pruning and cell-filter
    * pushdown ride unchanged; the oracle reruns the query on the
    * original parquet. This is the workflow the reference cannot offer
    * (its catalog JSON travels per-query as an option string,
    * `HbaseTableCatalog.scala:49-78`). */
  val q102SqlCatalog: Q = Q(
    "q102_sql_catalog",
    (s, d) => {
      val wh = graft.kv.KvStore.cacheDir(s"sqlcat-wh-${cacheKey(d)}")
      s.conf.set("spark.sql.catalog.graft_gate", "graft.sources.KvSqlCatalog")
      s.conf.set("spark.sql.catalog.graft_gate.warehouse", wh)
      if (!new File(s"$wh/default/lineitem_sql/_kvmeta.json").exists()) {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_ctas_src")
        s.sql("DROP TABLE IF EXISTS graft_gate.default.lineitem_sql")
        s.sql("""CREATE TABLE graft_gate.default.lineitem_sql
                 TBLPROPERTIES ('rowkey'='lk') AS
                 SELECT l_orderkey * 100 + l_linenumber AS lk, l_orderkey,
                        l_quantity, l_extendedprice, l_returnflag
                 FROM lineitem_ctas_src""")
      }
      // the exact fixed-point sum contract (graft.util.Exact) spelled in
      // SQL — identical formula on the oracle side below
      s.sql("""SELECT l_returnflag, count(*) AS n,
                      CAST(sum(CAST(round(l_quantity * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                      CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
               FROM graft_gate.default.lineitem_sql
               WHERE lk BETWEEN 2000000 AND 3000000 AND l_quantity < 30
               GROUP BY l_returnflag
               ORDER BY l_returnflag""")
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlDsum("l_quantity")} AS sum_qty,
             ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem
      WHERE (l_orderkey * 100 + l_linenumber) BETWEEN 2000000 AND 3000000
        AND l_quantity < 30
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "SQL catalog DDL surface: CTAS + catalog-identifier reads with full pushdown")

  /** Storage-partitioned join gate ([[graft.sources.KvBucketFunction]],
    * `KvScan.outputPartitioning`): two tables CTAS'd with
    * `'buckets'='16'` — orders keyed by `ok`, per-order lineitem
    * aggregates keyed the same — join on their rowkeys with NO exchange
    * on either side: every shard is tagged with its rowkey's
    * hash-bucket at write time, both scans report
    * `KeyGroupedPartitioning(bucket(16, ok))`, and Spark zips matching
    * buckets task-to-task (KvBucketJoinSpec asserts the executed plan
    * is Exchange-free). At 100 TB this deletes BOTH sides' shuffles
    * from the canonical fact-fact join — the single largest exchange in
    * a star-schema pipeline; the band filter additionally demonstrates
    * rowkey-range pruning composing with the bucket grouping. Money
    * columns are stored as exact cent BIGINTs so the DuckDB oracle
    * (which recomputes the join from the original parquet) hash-matches
    * bit-for-bit. */
  val q108SpjJoin: Q = Q(
    "q108_spj_join",
    (s, d) => {
      val wh = graft.kv.KvStore.cacheDir(s"spj-wh-${cacheKey(d)}")
      s.conf.set("spark.sql.catalog.graft_spj", "graft.sources.KvSqlCatalog")
      s.conf.set("spark.sql.catalog.graft_spj.warehouse", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      if (!new File(s"$wh/default/order_lines/_kvmeta.json").exists()) {
        Tables.orders(s, d).createOrReplaceTempView("orders_spj_src")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_spj_src")
        s.sql("DROP TABLE IF EXISTS graft_spj.default.order_facts")
        s.sql("""CREATE TABLE graft_spj.default.order_facts
                 TBLPROPERTIES ('rowkey'='ok', 'buckets'='16') AS
                 SELECT o_orderkey AS ok, o_orderstatus,
                        CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS total_c
                 FROM orders_spj_src""")
        s.sql("DROP TABLE IF EXISTS graft_spj.default.order_lines")
        s.sql("""CREATE TABLE graft_spj.default.order_lines
                 TBLPROPERTIES ('rowkey'='ok', 'buckets'='16') AS
                 SELECT l_orderkey AS ok, count(*) AS n_lines,
                        sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty,
                        sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS price_c
                 FROM lineitem_spj_src GROUP BY l_orderkey""")
      }
      // MERGE hint: at gate scale the band-filtered sides fit a
      // broadcast, which would mask the feature under test; the hint
      // pins the sort-merge shape a 100 TB join takes anyway, and with
      // both sides KeyGrouped-compatible EnsureRequirements elides BOTH
      // exchanges AND both sorts (shards stream in rowkey order)
      s.sql("""SELECT /*+ MERGE(l) */
                      f.ok, f.o_orderstatus, f.total_c, l.n_lines, l.qty, l.price_c
               FROM graft_spj.default.order_facts f
               JOIN graft_spj.default.order_lines l ON f.ok = l.ok
               WHERE f.ok BETWEEN 500 AND 4500
               ORDER BY f.ok""")
    },
    Some("""
      SELECT o.o_orderkey AS ok, o.o_orderstatus,
             CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) AS total_c,
             l.n_lines, l.qty, l.price_c
      FROM orders o
      -- CAST the sums: DuckDB's sum(BIGINT) is HUGEINT, which the
      -- harness would materialize as float and hash-diverge (q105's
      -- round-8 lesson)
      JOIN (SELECT l_orderkey, count(*) AS n_lines,
                   CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty,
                   CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS price_c
            FROM lineitem GROUP BY l_orderkey) l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey BETWEEN 500 AND 4500
      ORDER BY ok"""),
    doc = "storage-partitioned join: co-bucketed rowkey tables join with zero exchanges")

  /** Stage a multi-commit fixture table once. It counts as built only
    * at its final manifest version `commits` (the first commit already
    * creates the manifest), so a fixture cut short by a crash is wiped
    * and staged again. The table lock serializes stagers across JVMs;
    * the fixture's own commits nest inside it, so `stage` must commit
    * on the calling thread (batch writes and DML, never a stream). */
  private def stageCommits(dir: String, commits: Long)(stage: => Unit): Unit =
    graft.kv.KvStore.withTableLock(dir) {
      if (graft.kv.KvStore.readMetaOrEmpty(dir).version != commits) {
        Option(new File(dir).listFiles()).toSeq.flatten
          .filterNot(_.getName == "_kvlock").foreach(rmrf)
        stage
      }
    }

  /** Time-travel gate ([[graft.sources.KvSqlCatalog.loadTable]] version
    * overloads): the table is CTAS'd (manifest version 1), then a
    * row-level DELETE commits version 2; the query reads BOTH states of
    * the same table — `VERSION AS OF 1` replays the pre-delete snapshot
    * from the archived manifest + grace-retained shard files, the
    * unpinned read sees the survivors — and joins them per return flag.
    * The DuckDB oracle recomputes both states from the original parquet
    * (the pre-delete state is the full table, the post-delete state is
    * `NOT (predicate)`), so a hash match proves the snapshot replay is
    * byte-exact AND the delete removed exactly the predicate's rows.
    * Money stays in cent BIGINTs; both engines' sums are integral. */
  val q109TimeTravel: Q = Q(
    "q109_time_travel",
    (s, d) => {
      val wh = graft.kv.KvStore.cacheDir(s"tt-wh-${cacheKey(d)}")
      s.conf.set("spark.sql.catalog.graft_tt", "graft.sources.KvSqlCatalog")
      s.conf.set("spark.sql.catalog.graft_tt.warehouse", wh)
      stageCommits(s"$wh/default/li_hist", 2) {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_tt_src")
        s.sql("""CREATE TABLE graft_tt.default.li_hist
                 TBLPROPERTIES ('rowkey'='lk') AS
                 SELECT l_orderkey * 100 + l_linenumber AS lk, l_quantity,
                        CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS price_c,
                        l_returnflag
                 FROM lineitem_tt_src""")                          // version 1
        s.sql("DELETE FROM graft_tt.default.li_hist WHERE l_quantity = 25.0") // version 2
      }
      s.sql("""SELECT v1.l_returnflag, v1.n_before, v1.price_before,
                      now.n_after, now.price_after
               FROM (SELECT l_returnflag, count(*) AS n_before,
                            sum(price_c) AS price_before
                     FROM graft_tt.default.li_hist VERSION AS OF 1
                     GROUP BY l_returnflag) v1
               JOIN (SELECT l_returnflag, count(*) AS n_after,
                            sum(price_c) AS price_after
                     FROM graft_tt.default.li_hist
                     GROUP BY l_returnflag) now
                 ON v1.l_returnflag = now.l_returnflag
               ORDER BY v1.l_returnflag""")
    },
    Some("""
      SELECT v1.l_returnflag, v1.n_before, v1.price_before, now.n_after, now.price_after
      FROM (SELECT l_returnflag, count(*) AS n_before,
                   CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS price_before
            FROM lineitem GROUP BY l_returnflag) v1
      JOIN (SELECT l_returnflag, count(*) AS n_after,
                   CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS price_after
            FROM lineitem WHERE NOT (l_quantity = 25.0) GROUP BY l_returnflag) now
        ON v1.l_returnflag = now.l_returnflag
      ORDER BY v1.l_returnflag"""),
    doc = "SQL time travel: VERSION AS OF replays the pre-DELETE snapshot next to the live table")

  /** Incremental-read gate ([[graft.kv.KvStore.deltaShards]]): the
    * table is built from THREE appends (manifest versions 1, 2, 3 —
    * disjoint rowkey slices of lineitem), and the query reads
    * `sinceVersion = 1`: the manifest-chain replay plans ONLY the
    * shards versions 2 and 3 added, so the consumer's recurring "what
    * arrived since my checkpoint" question costs a handful of manifest
    * reads and the delta's own shards — never a scan of the table. At
    * 100 TB this is the difference between an incremental training-data
    * ingest step reading the day's appends and re-reading the corpus.
    * The DuckDB oracle recomputes the same delta from parquet by the
    * slice predicate, so the hash also proves the window boundary is
    * exact (nothing from v1 leaks in, nothing from v2/v3 is lost). */
  /** Build (once per sfDir per host) the three-append lineitem table —
    * manifest versions 1/2/3 carry disjoint rowkey slices. Shared by the
    * incremental batch gate (q110) and the CDC→streaming handoff gate
    * (q113). */
  private def incLineitemDir(s: SparkSession, d: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"inc-lineitem-${cacheKey(d)}")
    stageCommits(dir, 3) {
      val li = Tables.lineitem(s, d)
        .withColumn("lk", col("l_orderkey") * 100 + col("l_linenumber"))
        .select("lk", "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      Seq(
        col("lk") < 200000L,                          // append #1 → version 1
        col("lk") >= 200000L && col("lk") < 400000L,  // append #2 → version 2
        col("lk") >= 400000L                          // append #3 → version 3
      ).foreach { slice =>
        li.filter(slice).repartitionByRange(4, col("lk"))
          .write.format("graft-kv")
          .option("catalog", incCatalogJson).option("path", dir)
          .mode("append").save()
      }
    }
    dir
  }

  val q110IncrementalRead: Q = Q(
    "q110_incremental_read",
    (s, d) => {
      val dir = incLineitemDir(s, d)
      s.read.format("graft-kv")
        .option("catalog", incCatalogJson).option("path", dir)
        .option("sinceVersion", 1).load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlDsum("l_quantity")} AS sum_qty,
             ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem
      WHERE l_orderkey * 100 + l_linenumber >= 200000
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "incremental append-CDC read: sinceVersion plans only the delta commits' shards")

  /** CDC → streaming handoff gate: a batch consumer backfills the
    * snapshot at its checkpoint (`asOfVersion = 1`), hands the SAME
    * manifest version to a streaming tail (`sinceVersion = 1`, drained
    * with AvailableNow), and the union must reconstruct the full table
    * EXACTLY ONCE — the oracle aggregates all of lineitem with no
    * predicate, so a duplicated row (stream re-serving the snapshot) or
    * a dropped one (seed skipping a commit) flips the hash. This is the
    * composition a 100 TB ingest actually runs: bulk backfill by batch,
    * then a resumable streaming tail from the backfill's version, both
    * keyed on the one manifest-version axis (no second bookkeeping
    * system to drift). The tail writes to a KV TABLE sink — the real
    * pipeline shape (round 14; the memory sink it replaces funneled the
    * whole delta through a driver collect and then aggregated it as a
    * single-partition LocalTableScan: ~0.65 s of driver funnel plus a
    * serial agg at sf0.1, and unbounded driver memory at 100 TB —
    * KV source → KV sink keeps the drain AND the union distributed
    * end to end). */
  val q113CdcStreamHandoff: Q = Q(
    "q113_cdc_stream_handoff",
    (s, d) => {
      val dir = incLineitemDir(s, d)
      val backfill = s.read.format("graft-kv")
        .option("catalog", incCatalogJson).option("path", dir)
        .option("asOfVersion", 1).load()
      // sink + checkpoint ride beside the cached table (not fresh temp
      // dirs per invocation — bench repeats would accumulate them) and
      // are recreated together per run: the pair is one unit — reusing
      // the checkpoint against an emptied sink would plan zero new
      // offsets and lose the delta rows
      val sinkDir = s"$dir-tail-sink"
      val ckpt = s"$dir-ckpt-handoff"
      val tailCatalog = incCatalogJson.replace("lineitem_inc", "lineitem_tail")
      rmrf(new java.io.File(ckpt)) // stale leftover from a crashed run
      rmrf(new java.io.File(sinkDir))
      try {
        val q = s.readStream.format("graft-kv")
          .option("catalog", incCatalogJson).option("path", dir)
          .option("sinceVersion", 1).load()
          .writeStream.format("graft-kv")
          .option("catalog", tailCatalog).option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally rmrf(new java.io.File(ckpt))
      val tail = s.read.format("graft-kv")
        .option("catalog", tailCatalog).option("path", sinkDir).load()
      backfill.unionByName(tail)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlDsum("l_quantity")} AS sum_qty,
             ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "batch backfill at asOfVersion=V + streaming tail seeded sinceVersion=V reconstruct the table exactly once")

  private val incCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "lineitem_inc"},
      |  "rowkey": "lk",
      |  "columns": {
      |    "lk": {"cf": "rowkey", "col": "lk", "type": "long"},
      |    "l_orderkey": {"cf": "m", "col": "ok", "type": "long"},
      |    "l_quantity": {"cf": "m", "col": "qty", "type": "double"},
      |    "l_extendedprice": {"cf": "m", "col": "price", "type": "double"},
      |    "l_returnflag": {"cf": "m", "col": "rf", "type": "string"}
      |  }
      |}""".stripMargin

  private[queries] val docsIncCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "docs_inc"},
      |  "rowkey": "doc_id",
      |  "columns": {
      |    "doc_id": {"cf": "rowkey", "col": "doc_id", "type": "long"},
      |    "text": {"cf": "t", "col": "tx", "type": "string"}
      |  }
      |}""".stripMargin

  private[queries] val keepersCatalogJson =
    """{
      |  "table": {"namespace": "default", "name": "doc_keepers"},
      |  "rowkey": "fp",
      |  "columns": {
      |    "fp": {"cf": "rowkey", "col": "fp", "type": "string"},
      |    "keep_id": {"cf": "k", "col": "id", "type": "long"}
      |  }
      |}""".stripMargin

  /** Documents staged as 3 ascending doc_id-range append commits —
    * the ingest-feed shape the streaming dedup consumes. */
  private[queries] def incDocsDir(s: SparkSession, d: String): String = {
    val dir = graft.kv.KvStore.cacheDir(s"inc-docs-${cacheKey(d)}")
    stageCommits(dir, 3) {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val n = docs.count()
      Seq(
        col("doc_id") < n / 3,
        col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3,
        col("doc_id") >= 2 * n / 3
      ).foreach { slice =>
        docs.filter(slice).repartitionByRange(2, col("doc_id"))
          .write.format("graft-kv")
          .option("catalog", docsIncCatalogJson).option("path", dir)
          .mode("append").save()
      }
    }
    dir
  }

  /** Streaming dedup of a document ingest feed — the streaming arm of
    * the dedup family (q40/q41's batch exact dedup, made incremental).
    * The corpus arrives as version-ordered micro-batches
    * (`maxVersionsPerTrigger = 1` pins one commit per batch); each
    * batch reduces to one keeper per prefix-fingerprint
    * (md5 of the lowercased first 40 chars — the cheap heuristic tier
    * below q40's full-text hash; ~5% of this corpus collides) and
    * anti-joins the KEEPER TABLE ITSELF before appending, so the
    * dedup state is the versioned KV sink — restart-safe (exactly-once
    * via checkpoint + idempotent anti-join: a replayed batch finds its
    * fps already landed and appends nothing) and queryable mid-stream.
    * First-seen-wins across batches ≡ min doc_id here because the
    * staged versions ascend in doc_id; the in-batch keeper is min
    * doc_id by construction.
    *
    * At 100 TB the anti-join is the scale story: the sink table is
    * rowkey-sorted on fp, so the per-batch anti-join prunes to the
    * batch's fp ranges (zone maps + blooms) instead of scanning the
    * accumulated corpus — state grows, per-batch cost tracks the
    * batch. Oracle: the whole drain ≡ one batch GROUP BY. */
  val q126StreamDedup: Q = Q(
    "q126_stream_dedup",
    (s, d) => {
      val dir = incDocsDir(s, d)
      val sinkDir = s"$dir-keepers"
      val ckpt = s"$dir-ckpt-dedup"
      rmrf(new File(ckpt))
      rmrf(new File(sinkDir))
      try {
        val q = s.readStream.format("graft-kv")
          .option("catalog", docsIncCatalogJson).option("path", dir)
          .option("maxVersionsPerTrigger", 1).load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val keepers = batch
              .select(md5(lower(substring(col("text"), 1, 40)).cast("binary"))
                .as("fp"), col("doc_id"))
              .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
            val fresh =
              if (!new File(s"$sinkDir/_kvmeta.json").exists()) keepers
              else keepers.join(
                s.read.format("graft-kv").option("catalog", keepersCatalogJson)
                  .option("path", sinkDir).load().select("fp"),
                Seq("fp"), "left_anti")
            // delta-sized append (r21, guide §6): the fixed 2-way range
            // repartition paid a sampling pass + 2 sliver shards per
            // micro-batch; size shards from the BATCH's manifest-derived
            // plan statistics instead (keeper rows are strictly narrower
            // than the document rows the estimate counts, so this only
            // ever over-shards). A typical micro-batch lands one shard —
            // repartitionByRange(1, …) skips the sampling job.
            val shards = IvfStore.indexShards(s,
              batch.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
                .max(1L), 1)
            fresh.repartitionByRange(shards, col("fp"))
              .write.format("graft-kv")
              .option("catalog", keepersCatalogJson).option("path", sinkDir)
              .mode("append").save()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally rmrf(new File(ckpt))
      s.read.format("graft-kv")
        .option("catalog", keepersCatalogJson).option("path", sinkDir).load()
        .orderBy(col("fp"))
    },
    Some("""
      SELECT md5(lower(substr(text, 1, 40))) AS fp, min(doc_id) AS keep_id
      FROM documents
      GROUP BY 1
      ORDER BY fp"""),
    doc = "streaming dedup: version-ordered batches anti-join the keeper table itself")

  def defs: Seq[Q] = Seq(q70KvScanFilter, q71KvRowkeyRange, q72KvCanonical,
    q81KvCompacted, q82KvStreamed, q83KvTopnDesc, q84KvTypes, q85KvRuntimeFilter,
    q86KvZoneMap, q95KvGroupedAgg, q96KvFilterExtras, q97KvPrefixSeek,
    q100KvMultiRange, q101KvBloomPoint, q102SqlCatalog, q107KvBloomJoin,
    q108SpjJoin, q109TimeTravel, q110IncrementalRead, q113CdcStreamHandoff,
    q126StreamDedup)
}
