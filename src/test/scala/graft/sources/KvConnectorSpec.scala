package graft.sources

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.kv.KvCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

case class Person(id: Long, name: String, alive: Boolean, age: Int,
                  birthDateStr: String, birthDateTime: Timestamp,
                  birthDate: Date, height: Double, b: Byte, c: Option[String])

/** End-to-end connector suite over the ported people fixture
  * (FIXTURES.md §1; original generator
  * `/root/reference/src/test/scala/TestDataWriter.scala:47-68`). */
class KvConnectorSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-kv-people").toString

  // catalog in MAP form (reference ScalaDatasourceTest.scala:10-69 shape)
  private val catalogJson =
    """{
      |  "table": {"namespace": "default", "name": "people"},
      |  "rowkey": "id",
      |  "columns": {
      |    "id": {"cf": "rowkey", "col": "id", "type": "long"},
      |    "name": {"cf": "columns", "col": "name", "type": "string"},
      |    "alive": {"cf": "columns", "col": "alive", "type": "boolean"},
      |    "age": {"cf": "columns", "col": "age", "type": "int"},
      |    "birthDateStr": {"cf": "columns", "col": "birthDateStr", "type": "string"},
      |    "birthDateTime": {"cf": "columns", "col": "birthDateTime", "type": "timestamp"},
      |    "birthDate": {"cf": "columns", "col": "birthDate", "type": "date"},
      |    "height": {"cf": "columns", "col": "height", "type": "double"},
      |    "b": {"cf": "columns", "col": "b", "type": "byte"},
      |    "c": {"cf": "columns", "col": "c", "type": "string"}
      |  }
      |}""".stripMargin

  private def peopleDf: DataFrame = {
    import spark.implicits._
    val base = java.time.ZonedDateTime.parse("1990-01-01T00:00:00Z")
    (1 to 1000).map { i =>
      val zdt = base.plusDays(i % 365).plusHours(i % 24)
      Person(i.toLong, s"people$i", i % 2 == 0, i % 60,
        zdt.toString, Timestamp.from(zdt.toInstant),
        Date.valueOf(zdt.toLocalDate), (i % 100) / 10.0 + 1.0, 5.toByte, None)
    }.toDF()
  }

  private lazy val written: Unit = {
    peopleDf
      .repartitionByRange(8, col("id"))
      .write.format("graft-kv")
      .option("catalog", catalogJson).option("path", dir)
      .mode("overwrite").save()
  }

  private def kv: DataFrame = {
    written
    spark.read.format("graft-kv")
      .option("catalog", catalogJson).option("path", dir).load()
  }

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("write + full scan returns all rows with all columns") {
    val rows = kv.collect()
    assert(rows.length == 1000)
    val r = kv.filter(col("id") === 7).collect().head
    assert(r.getAs[String]("name") == "people7")
    assert(r.getAs[Boolean]("alive") == false)
    assert(r.getAs[Int]("age") == 7)
    assert(r.getAs[Double]("height") == 1.7)
    assert(r.getAs[Byte]("b") == 5.toByte)
    assert(r.getAs[String]("c") == null)
  }

  test("reference canonical query: IN + OR (ScalaDatasourceTest.scala:88-91)") {
    kv.createOrReplaceTempView("test")
    val got = spark.sql(
      """SELECT id, name, alive, age, birthDateStr, birthDateTime, birthDate,
        |       height, b, c
        |FROM test WHERE id IN (1,2,3,4,5) OR name = 'people1000'""".stripMargin)
      .collect().map(_.getAs[Long]("id")).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 1000L))
  }

  test("rowkey range query (JavaDatasourceTest.java:40)") {
    kv.createOrReplaceTempView("test")
    val got = spark.sql("SELECT id, name FROM test WHERE id <= 10 ORDER BY id DESC")
      .collect().map(_.getAs[Long]("id"))
    assert(got.toSeq == (1L to 10L).reverse)
  }

  test("rowkey predicates prune shard partitions at plan time") {
    val full = kv
    val narrowed = kv.filter(col("id") <= 10)
    assert(full.rdd.getNumPartitions == 8)
    // a bounded read this small runs on the driver over exactly the
    // shards it planned
    assert(PlannedKvScan(narrowed).isDriver)
    assert(PlannedKvScan(narrowed).kv.planInputPartitions().length == 1,
      "id<=10 must hit only the first range shard")
    val eq = kv.filter(col("id") === 500)
    assert(PlannedKvScan(eq).isDriver)
    assert(PlannedKvScan(eq).kv.planInputPartitions().length == 1)
  }

  // ---- per-filter pushdown matrix (FIXTURES.md §3) ----
  private def assertPushedAndCorrect(df: DataFrame, expectIds: Seq[Long],
                                     mustContain: String): Unit = {
    val scan = PlannedKvScan(df).scan.description()
    assert(scan.contains(mustContain), s"expected '$mustContain' in scan: $scan")
    assert(df.collect().map(_.getAs[Long]("id")).sorted.toSeq == expectIds.sorted)
  }

  test("EqualTo pushdown") {
    assertPushedAndCorrect(kv.filter(col("name") === "people10").select("id", "name"),
      Seq(10L), "EqualTo(name,people10)")
  }
  test("comparison pushdown on int column") {
    assertPushedAndCorrect(kv.filter(col("age") < 2 && col("id") <= 100).select("id"),
      (1L to 100L).filter(i => i % 60 < 2), "LessThan(age,2)")
  }
  test("In pushdown") {
    assertPushedAndCorrect(kv.filter(col("id").isin(3, 5, 900)).select("id"),
      Seq(3L, 5L, 900L), "In(id")
  }
  test("IsNull matches missing cells (null ≡ absent)") {
    assertPushedAndCorrect(kv.filter(col("c").isNull).select("id"),
      (1L to 1000L), "IsNull(c)")
  }
  test("IsNotNull on missing cells matches nothing") {
    assertPushedAndCorrect(kv.filter(col("c").isNotNull).select("id"),
      Seq.empty, "IsNotNull(c)")
  }
  test("StringStartsWith pushdown") {
    assertPushedAndCorrect(kv.filter(col("name").startsWith("people99")).select("id"),
      Seq(99L) ++ (990L to 999L), "StringStartsWith(name,people99)")
  }
  test("StringContains pushdown") {
    assertPushedAndCorrect(kv.filter(col("name").contains("le1000")).select("id"),
      Seq(1000L), "StringContains(name,le1000)")
  }
  test("Or tree pushdown") {
    assertPushedAndCorrect(
      kv.filter(col("id") === 1 || col("name") === "people1000").select("id"),
      Seq(1L, 1000L), "Or(EqualTo(id,1),EqualTo(name,people1000))")
  }
  test("StringEndsWith pushdown (HBase comparators can't; decoded values can)") {
    assertPushedAndCorrect(kv.filter(col("name").endsWith("le1000")).select("id"),
      Seq(1000L), "StringEndsWith(name,le1000)")
  }
  test("Not pushdown keeps SQL three-valued semantics on missing cells") {
    // name != literal: pushed, excludes only the matching row
    assertPushedAndCorrect(kv.filter(col("name") =!= "people10").select("id"),
      (1L to 1000L).filterNot(_ == 10L), "EqualTo(name,people10)")
    // c is ALWAYS the missing cell (null): NOT (c = 'x') is UNKNOWN for
    // every row — pushed evaluation must drop all 1000, same as Spark
    val none = kv.filter(!(col("c") === "x")).select("id")
    assert(none.collect().isEmpty,
      "NOT over a null comparison must stay UNKNOWN (drop), not flip to true")
    // NOT over a nested tree: c='x' is UNKNOWN, so NOT(id<=998 OR c='x')
    // is UNKNOWN everywhere — correct SQL answer is zero rows, and the
    // Not(EqualTo(c,…)) must still show as PUSHED, not residual
    val nested = kv.filter(!(col("id") <= 998L || col("c") === "x")).select("id")
    val nestedScan = PlannedKvScan(nested).scan.description()
    assert(nestedScan.contains("Not(EqualTo(c,x))"), s"Not must push:\n$nestedScan")
    assert(nested.collect().isEmpty, "NOT over (false OR UNKNOWN) stays UNKNOWN")
    // same shape with a definite right side keeps the definite rows
    assertPushedAndCorrect(
      kv.filter(!(col("id") <= 998L || col("name") === "people999")).select("id"),
      Seq(1000L), "GreaterThan(id,998)")
  }
  test("EqualNullSafe pushdown (<=> treats null as an ordinary value)") {
    // c <=> NULL: Catalyst folds it to IsNull before pushdown — TRUE
    // everywhere (c is always the missing cell)
    assertPushedAndCorrect(kv.filter(col("c") <=> lit(null)).select("id"),
      1L to 1000L, "IsNull(c)")
    // NOT (c <=> 'x') is TRUE everywhere — <=> is never UNKNOWN
    assertPushedAndCorrect(kv.filter(!(col("c") <=> "x")).select("id"),
      1L to 1000L, "EqualNullSafe(c,x)")
    assertPushedAndCorrect(kv.filter(col("name") <=> "people10").select("id"),
      Seq(10L), "EqualNullSafe(name,people10)")
  }
  test("And/Or with untranslatable child stays residual wholesale (reference bug regression)") {
    // the reference pushes And/Or wholesale and MatchErrors executor-side
    // on unsupported children; here the whole tree must stay residual.
    // Use a predicate class the V1 bridge genuinely cannot translate.
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Or => V2Or, Predicate}
    val b = new KvScanBuilder(KvCatalog.parse(catalogJson), dir)
    val eq10 = new Predicate("=",
      Array(Expressions.column("id"), Expressions.literal(10L)))
    val weird = new Predicate("REGEXP_LIKE",
      Array(Expressions.column("name"), Expressions.literal(".*0")))
    val tree = new V2Or(new V2And(eq10, weird), new Predicate("=",
      Array(Expressions.column("id"), Expressions.literal(20L))))
    val residual = b.pushPredicates(Array(tree))
    assert(residual.length == 1 && b.pushedPredicates().isEmpty,
      "an Or with an untranslatable child must not be claimed by the scan")
    // end-to-end: Spark keeps such shapes residual and results stay right
    val df = kv.filter(
      (col("id") === 10 && col("name").rlike(".*0$")) || col("id") === 20).select("id")
    assert(df.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(10L, 20L))
  }
  test("rowkey prefix seek: StartsWith on a string rowkey prunes shards") {
    val pDir = Files.createTempDirectory("graft-kv-prefix").toString
    val pCat =
      """{"table":{"name":"prefixed"},"rowkey":"rk",
        | "columns":{"rk":{"cf":"rowkey","col":"rk","type":"string"},
        |            "v":{"cf":"f","col":"v","type":"long"}}}""".stripMargin
    import spark.implicits._
    // composite string keys, the HBase idiom: "<tenant>#<seq>"; range
    // partitioning on rk gives each tenant a tight shard neighborhood
    val tenants = Seq("acme", "globex", "ini", "umbra", "wayne", "zorg", "ÿmulti𐐀")
    val rows = for (t <- tenants; i <- 1 to 200) yield (f"$t#$i%04d", i.toLong)
    rows.toDF("rk", "v").repartitionByRange(8, col("rk"))
      .write.format("graft-kv").option("catalog", pCat).option("path", pDir)
      .mode("overwrite").save()
    def read() = spark.read.format("graft-kv")
      .option("catalog", pCat).option("path", pDir).load()
    assert(read().rdd.getNumPartitions == 8)

    val one = read().filter(col("rk").startsWith("globex#"))
    assert(one.count() == 200)
    val planned = PlannedKvScan(one)
    assert(planned.kv.planInputPartitions().length < 8,
      "a single-tenant prefix must plan only the covering shards")
    one.collect()
    assert(planned.metric("kvShardsPrunedKeyRange") > 0,
      "prefix pruning must surface in the rowkey-range metric")
    // prefix + range compose (clip tightens inside the prefix window)
    val narrow = read().filter(col("rk").startsWith("globex#") && col("rk") >= "globex#0150")
    assert(narrow.count() == 51)
    // multi-byte prefix (successor increments a continuation byte — the
    // bound is raw bytes, not a valid string, and must stay sound)
    assert(read().filter(col("rk").startsWith("ÿmulti𐐀#")).count() == 200)
    assert(read().filter(col("rk").startsWith("ÿmulti𐐀#00")).count() == 99)
    // no matching tenant: every shard pruned or rows filtered — empty
    assert(read().filter(col("rk").startsWith("nobody#")).count() == 0)
    // prefix of everything prunes nothing and loses nothing
    assert(read().filter(col("rk").startsWith("")).count() == rows.length)
  }

  test("timestamp + date predicates decode correctly") {
    val ts = Timestamp.from(java.time.Instant.parse("1990-06-01T00:00:00Z"))
    val viaKv = kv.filter(col("birthDateTime") < ts).count()
    val viaDf = peopleDf.filter(col("birthDateTime") < ts).count()
    assert(viaKv == viaDf)
    val d = Date.valueOf("1990-06-01")
    assert(kv.filter(col("birthDate") === d).count() ==
      peopleDf.filter(col("birthDate") === d).count())
  }
  test("pushdown-disabled equivalence on a mixed predicate") {
    val pred = (col("age") >= 30 && col("height") < 5.0) || col("name") === "people77"
    val viaKv = kv.filter(pred).collect().map(_.getAs[Long]("id")).sorted
    val viaDf = peopleDf.filter(pred).collect().map(_.getAs[Long]("id")).sorted
    assert(viaKv.toSeq == viaDf.toSeq)
  }

  test("column pruning reaches the scan") {
    val df = kv.select("name")
    val plan = physicalPlan(df)
    assert(plan.contains("ReadSchema") || df.schema.fieldNames.sameElements(Array("name")))
    assert(df.collect().length == 1000)
  }

  test("limit pushdown caps per-partition reads") {
    val df = kv.limit(5)
    assert(df.collect().length == 5)
    assert(physicalPlan(kv.limit(5)).contains("Limit"))
  }

  test("top-N by rowkey ASC pushes into the sorted scan") {
    val df = kv.orderBy(col("id")).limit(7).select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == (1L to 7L))
    val planned = PlannedKvScan(df)
    assert(!planned.isDriver, "an unbounded top-N keeps one task per shard")
    val scan = planned.scan
    assert(scan.description().contains("Limit: 7"),
      s"top-N must reach the scan as a limit: ${scan.description()}")
  }

  test("scan reports rowkey ordering: redundant partition-local sorts are removed") {
    // RemoveRedundantSorts drops the SortExec because the scan's reported
    // per-partition ordering (SupportsReportOrdering) already satisfies it
    val sorted = kv.filter(col("age") > 10).sortWithinPartitions("id")
    val plan = physicalPlan(sorted)
    assert(!plan.contains("Sort ["),
      s"rowkey sortWithinPartitions must be a no-op over the sorted scan:\n$plan")
    val ord = sorted.queryExecution.executedPlan.outputOrdering
    assert(ord.nonEmpty && ord.head.toString.contains("id") &&
      ord.head.toString.contains("ASC"), s"scan must report rowkey ASC: $ord")
    // a non-rowkey sort is NOT satisfied by the layout and must stay
    assert(physicalPlan(kv.sortWithinPartitions("age")).contains("Sort ["))
    // the DESC tail reader serves newest-first → reports key-descending
    val desc = kv.orderBy(col("id").desc).limit(3)
    val scanOrd = PlannedKvScan(desc).exec.get.outputOrdering
    assert(scanOrd.nonEmpty && scanOrd.head.toString.contains("DESC"),
      s"DESC tail scan must report key-descending order: $scanOrd")
  }

  test("top-N by rowkey DESC pushes a tail scan (<= n rows per shard)") {
    val df = kv.orderBy(col("id").desc).limit(3).select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1000L, 999L, 998L))
    val scanExec = PlannedKvScan(df).exec.get
    assert(scanExec.scan.description().contains("Limit: 3 (DESC tail)"),
      s"DESC top-N must reach the scan: ${scanExec.scan.description()}")
    // the scan itself (before Spark's merge-sort + global limit) must
    // surface at most n rows per shard — 8 shards * 3 = 24, not 1000.
    // r19: the DESC tail is served by the columnar ring buffer, so the
    // node is columnar and per-shard row counts come from the batches
    assert(scanExec.supportsColumnar,
      "the DESC tail must ride the columnar ring buffer (r19)")
    val perShard = scanExec.executeColumnar()
      .map(_.numRows()).glom().map(_.sum).collect()
    assert(perShard.sum <= 24,
      s"DESC tail scan surfaced ${perShard.sum} rows (> n per shard)")
    // each shard's contribution must be ITS OWN key-descending tail
    assert(perShard.forall(_ <= 3), s"per-shard counts: ${perShard.toSeq}")
    // tail mode composes with a pushed value filter: odd ids only
    val filtered = kv.filter(col("alive") === false)
      .orderBy(col("id").desc).limit(4).select("id")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(999L, 997L, 995L, 993L))
  }

  test("compact list catalog form parses to the same schema") {
    val compact =
      """{
        |  "table": {"name": "people"},
        |  "rowkey": "id",
        |  "columns": [
        |    "id long rowkey",
        |    "name string columns",
        |    "age int columns age"
        |  ]
        |}""".stripMargin
    val cat = KvCatalog.parse(compact)
    assert(cat.namespace == "default")
    assert(cat.qualifiedName == "default:people")
    assert(cat.schema.fieldNames.toSeq == Seq("id", "name", "age"))
    assert(cat.schema("id").nullable == false)
    assert(cat.schema("name").metadata.getString("column") == "name")
    // readable against the same data (subset of columns)
    val df = spark.read.format("graft-kv")
      .option("catalog", compact).option("path", dir).load()
    assert(df.filter(col("id") === 5).collect().head.getAs[Int]("age") == 5)
  }

  test("negative rowkeys: predicates stay correct (no unsound byte-order pruning)") {
    val negDir = Files.createTempDirectory("graft-kv-neg").toString
    val negCat =
      """{"table":{"name":"neg"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"int"}}}""".stripMargin
    import spark.implicits._
    (-50L to 50L).map(k => (k, k.toInt * 2)).toDF("k", "v")
      .write.format("graft-kv").option("catalog", negCat).option("path", negDir)
      .mode("overwrite").save()
    val df = spark.read.format("graft-kv").option("catalog", negCat)
      .option("path", negDir).load()
    assert(df.filter(col("k") > -5).count() == 55) // -4..50
    assert(df.filter(col("k") < 0).count() == 50)
    assert(df.filter(col("k") === -50).collect().head.getAs[Int]("v") == -100)
  }

  test("scan reports manifest statistics (rows + size) for AQE/CBO") {
    // bounded and within the one-reader budget: a driver read, which
    // reports the manifest statistics of the scan it wraps
    val df = kv.filter(col("id") > 0)
    val planned = PlannedKvScan(df)
    assert(planned.isDriver)
    val stats = planned.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 1000L)
    assert(stats.sizeInBytes().getAsLong > 0L)
    assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1000)),
      "the optimizer sees the same estimate")
  }

  test("one query plans and reads one manifest snapshot") {
    val snapDir = Files.createTempDirectory("graft-kv-snap").toString
    val snapCat =
      """{"table":{"name":"snap"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"long"}}}""".stripMargin
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).select(col("id").as("k"), col("id").as("v"))
        .repartitionByRange(2, col("k"))
        .write.format("graft-kv").option("catalog", snapCat).option("path", snapDir)
        .mode("append").save()
    def read() = spark.read.format("graft-kv").option("catalog", snapCat)
      .option("path", snapDir).load().filter(col("v") >= 0L)
    append(0L, 100L)
    // optimizing builds the scan over the builder's manifest snapshot
    // and sizes it; a commit landing before execution changes neither
    // the statistics nor the shards the same query then plans and reads
    val df = read()
    assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(100)))
    append(100L, 150L)
    assert(df.collect().length == 100)
    assert(!PlannedKvScan(df).isDriver && PlannedKvScan(df).kv.planInputPartitions().length == 2)
    // the next query reads the next snapshot
    assert(read().collect().length == 150)
  }

  test("runtime rowkey filters re-prune partitions (SupportsRuntimeFiltering)") {
    import org.apache.spark.sql.sources.{EqualTo => SEqualTo}
    val df = kv
    val scan = PlannedKvScan(df).exec.get.scan.asInstanceOf[KvScan]
    assert(scan.planInputPartitions().length == 8)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](SEqualTo("id", 500L)))
    assert(scan.planInputPartitions().length == 1,
      "runtime EqualTo on the rowkey must prune to one shard")
  }

  test("DPP end-to-end: a broadcast join's build side re-prunes shards at runtime") {
    // build side only known at runtime: a range filtered on a NON-key
    // column (bid = 10·n). A filter on `bid` itself would reach the KV
    // side at plan time (InferFiltersFromConstraints turns it into a
    // static point lookup), leaving nothing for a runtime filter to do.
    val build = spark.range(0, 1000).select((col("id") * 10L).as("bid"), col("id").as("n"))
      .filter(col("n").isin(1L, 2L, 3L))
    val joined = kv.join(broadcast(build), col("id") === col("bid"))
      .select(col("id"), col("name"))
    val rows = joined.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L, 30L))
    // Spark must have planned a dynamic-pruning subquery on the KV scan
    val planned = PlannedKvScan(joined)
    val scanExec = planned.exec.get
    assert(scanExec.runtimeFilters.nonEmpty,
      s"expected a runtime (dynamic pruning) filter on the KV scan:\n${joined.queryExecution.executedPlan}")
    // ...and executing it must have re-pruned 8 shards down to 1 (ids
    // 10/20/30 all fall in the first range shard)
    assert(planned.kv.planInputPartitions().length == 1,
      "runtime IN-set must prune the 8 shards to the single covering one")
  }

  test("_shard metadata column: every record names its source shard file") {
    val rows = kv.select(col("id"), col("_shard")).collect()
    assert(rows.length == 1000)
    val files = graft.kv.KvStore.readMeta(dir).shards.map(_.file).toSet
    assert(rows.forall(r => files(r.getString(1))),
      "_shard must be a live manifest file name")
    assert(rows.map(_.getString(1)).distinct.length == 8, "8 range shards")
    // mixes with predicates and stays correct under pruning
    val one = kv.filter(col("id") === 500L).select(col("_shard")).collect()
    assert(one.length == 1 && files(one.head.getString(0)))
  }

  test("multi-range planning: sparse IN prunes every shard between the points") {
    // 8 range shards over id 1..1000; a 3-point IN at the extremes +
    // middle must plan exactly 3 shards (the envelope would keep all 8)
    val df = kv.filter(col("id").isin(5L, 500L, 995L))
      .select(col("id"), col("name"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 500L, 995L))
    val scan = PlannedKvScan(df)
    val parts = scan.kv.planInputPartitions()
    assert(parts.length == 3,
      s"IN(5,500,995) must plan 3 shards, not the envelope's 8; got ${parts.length}")
    // each surviving shard carries exactly the one point range that hit it
    parts.foreach { p =>
      val kp = p.asInstanceOf[KvInputPartition]
      assert(kp.ranges.length == 1 && kp.ranges.head._1 == kp.ranges.head._2)
    }
    // in-shard gap skip: the reader yields only in-range records, so the
    // per-record decode count is the match count, not the shard sizes
    assert(scan.metric("kvRecordsRead") == 3L,
      "gap records between planned ranges must skip the consumer entirely")
  }

  test("multi-range planning: IN ∪ band over a temp view (canonical shape, multi-clip)") {
    kv.createOrReplaceTempView("people_mr")
    val df = spark.sql(
      "SELECT id, age FROM people_mr WHERE id IN (3, 998) OR (id >= 400 AND id <= 420)")
    val got = df.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (Seq(3L, 998L) ++ (400L to 420L)).sorted)
    val scan = PlannedKvScan(df)
    val parts = scan.kv.planInputPartitions()
    assert(parts.length == 3, s"3 disjoint ranges hit 3 shards, got ${parts.length}")
    assert(scan.metric("kvRecordsRead") == 23L)
  }

  test("multi-range ≡ single-span results (fuzz) and empty-set plans zero partitions") {
    val rnd = new scala.util.Random(7)
    val all = peopleDf.select("id").collect().map(_.getLong(0)).toSet
    (1 to 25).foreach { _ =>
      val points = Array.fill(1 + rnd.nextInt(6))(rnd.between(-50L, 1100L))
      val lo = rnd.between(-50L, 1100L)
      val hi = lo + rnd.nextInt(200)
      val df = kv.filter(col("id").isin(points.map(_.asInstanceOf[Any]).toIndexedSeq: _*) ||
          (col("id") >= lo && col("id") <= hi))
        .select("id")
      val got = df.collect().map(_.getLong(0)).sorted.toSeq
      val want = all.filter(v => points.contains(v) || (v >= lo && v <= hi)).toSeq.sorted
      assert(got == want, s"points=${points.toSeq} band=[$lo,$hi]")
    }
    // a provably-empty rowkey predicate plans no partitions at all
    val none = kv.filter(col("id") > 500L && col("id") < 400L)
    assert(none.collect().isEmpty)
    assert(PlannedKvScan(none).kv.planInputPartitions().isEmpty,
      "disjoint conjuncts must plan the empty range set")
  }

  test("aggregate pushdown: COUNT/MIN/MAX/SUM computed in the scan") {
    val df = kv.agg(
      count(lit(1)).as("n"),
      count(col("c")).as("n_c"),
      min(col("age")).as("min_age"),
      max(col("height")).as("max_h"),
      max(col("name")).as("max_name"),
      sum(col("age")).as("sum_age"),
      sum(col("height")).as("sum_h"))
    val plan = df.queryExecution.executedPlan.toString()
    val r = df.collect().head
    assert(r.getAs[Long]("n") == 1000L)
    assert(r.getAs[Long]("n_c") == 0L) // c is always the missing cell
    assert(r.getAs[Int]("min_age") == 0)
    assert(r.getAs[Double]("max_h") == 10.9)
    assert(r.getAs[String]("max_name") == "people999") // lexicographic
    assert(r.getAs[Long]("sum_age") == (1 to 1000).map(_ % 60).sum.toLong)
    assert(math.abs(r.getAs[Double]("sum_h") -
      (1 to 1000).map(i => (i % 100) / 10.0 + 1.0).sum) < 1e-6)
    assert(plan.contains("PushedAggregates"), s"aggregates must be pushed:\n$plan")
    assert(plan.contains("KvSumCol"), s"sums must be pushed:\n$plan")
    // SUM over zero matching rows is NULL (sumSeen stays false in every
    // shard partial; Spark's final sum of nulls is null)
    val empty = kv.filter(col("id") < 0L).agg(sum(col("age")).as("s"))
    assert(empty.collect().head.isNullAt(0), "sum of an empty set must be NULL")
  }

  test("ANSI mode: integral SUM stays residual so Spark raises on overflow") {
    val ovDir = Files.createTempDirectory("graft-kv-ansisum").toString
    val catJson =
      """{"table":{"name":"ansisum"},"rowkey":"k","columns":{""" +
        """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
        """"v":{"cf":"f","col":"v","type":"long"},""" +
        """"h":{"cf":"f","col":"h","type":"double"}}}"""
    import spark.implicits._
    Seq((1L, Long.MaxValue, 1.5), (2L, Long.MaxValue, 2.5))
      .toDF("k", "v", "h").coalesce(1)
      .write.format("graft-kv").option("catalog", catJson).option("path", ovDir)
      .mode("overwrite").save()
    def ovf = spark.read.format("graft-kv")
      .option("catalog", catJson).option("path", ovDir).load()
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // ANSI (Spark 4's default): the sum still pushes, but the partial
      // accumulates overflow-CHECKED and raises where Spark's own Sum
      // would — a silently wrapping partial would change ANSI results
      val df = ovf.agg(sum(col("v")).as("s"))
      assert(physicalPlan(df).contains("KvSumCol(v,true)"),
        s"ANSI integral SUM must push in checked mode:\n${physicalPlan(df)}")
      val e = intercept[Exception](df.collect())
      def messages(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + messages(t.getCause)
      assert(messages(e).toLowerCase.contains("overflow"),
        s"ANSI sum overflow must raise, got: ${messages(e)}")
      // error-class parity with the unpushed plan: the chain must carry
      // Spark's ARITHMETIC_OVERFLOW condition, not a bare JVM
      // ArithmeticException (callers match on the documented class)
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists {
        case s: org.apache.spark.SparkThrowable =>
          s.getCondition == "ARITHMETIC_OVERFLOW"
        case _ => false
      }, s"expected ARITHMETIC_OVERFLOW in the cause chain, got: ${messages(e)}")
      // double sums saturate to Infinity in both modes — never checked
      val d = ovf.agg(sum(col("h")).as("s"))
      assert(physicalPlan(d).contains("KvSumCol(h,false)"))
      assert(d.collect().head.getDouble(0) == 4.0)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    // ANSI off: pushed unchecked, wraps to the same answer Spark computes
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val off = ovf.agg(sum(col("v")).as("s"))
      assert(physicalPlan(off).contains("KvSumCol(v,false)"))
      assert(off.collect().head.getLong(0) == -2L)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("aggregates over a provably-empty rowkey range return SQL empty-set results") {
    val df = kv.filter(col("id") > 500L && col("id") < 400L)
      .agg(count(lit(1)).as("n"), min(col("age")).as("m"), sum(col("age")).as("s"))
    val r = df.collect().head
    assert(r.getAs[Long]("n") == 0L && r.isNullAt(1) && r.isNullAt(2),
      "zero planned partitions must still yield COUNT 0 / MIN NULL / SUM NULL")
    // multi-range EXPLAIN surface: the plan names its planned range count
    assert(PlannedKvScan(kv.filter(col("id").isin(5L, 500L, 995L)))
      .scan.description().contains("Ranges: 3"))
  }

  test("avg rides aggregate pushdown as sum+count partials (Spark's own rewrite)") {
    // grouped: avg over an integral column becomes pushed Sum+Count
    val df = kv.groupBy(col("alive")).agg(avg(col("age")).as("a"))
    val plan = physicalPlan(df)
    assert(plan.contains("PushedAggregates"), s"avg must push partials:\n$plan")
    assert(plan.contains("KvSumCol(age") && plan.contains("KvCountCol(age)"),
      s"avg must decompose to pushed sum+count:\n$plan")
    val m = df.collect().map(r => r.getAs[Boolean]("alive") -> r.getAs[Double]("a")).toMap
    val exp = (1 to 1000).groupBy(_ % 2 == 0).map { case (k, is) =>
      k -> is.map(_ % 60).sum.toDouble / is.length
    }
    assert(m(true) == exp(true) && m(false) == exp(false))
    // global avg: same decomposition, one partial row per shard
    val g = kv.agg(avg(col("age")).as("a"))
    assert(physicalPlan(g).contains("KvCountCol(age)"))
    assert(g.collect().head.getDouble(0) == (1 to 1000).map(_ % 60).sum.toDouble / 1000)
  }

  test("global COUNT(*)/MIN/MAX answer from the manifest without reading a byte") {
    val df = kv.agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
      max(col("id")).as("max_id"), min(col("age")).as("min_age"),
      max(col("name")).as("max_name"), max(col("height")).as("max_h"))
    val r = df.collect().head
    assert(r.getAs[Long]("n") == 1000L)
    assert(r.getAs[Long]("min_id") == 1L && r.getAs[Long]("max_id") == 1000L)
    assert(r.getAs[Int]("min_age") == 0)
    assert(r.getAs[String]("max_name") == "people999")
    assert(r.getAs[Double]("max_h") == 10.9)
    val scan = PlannedKvScan(df)
    assert(scan.metric("kvBytesRead") == 0L,
      "rowkey bounds + zone maps already hold these answers; no shard file may be opened")
    assert(scan.metric("kvRecordsRead") == 0L)
    // timestamps are excluded (key encoding floors micros to millis):
    // the same shape over a timestamp column must SCAN and stay exact
    val ts = kv.agg(max(col("birthDateTime")).as("m"))
    val expect = peopleDf.agg(max(col("birthDateTime"))).head().getTimestamp(0)
    assert(ts.collect().head.getAs[java.sql.Timestamp]("m") == expect)
    assert(PlannedKvScan(ts).metric("kvRecordsRead") == 1000L,
      "a lossy-encoded column must fall back to the real scan")
  }

  test("aggregate pushdown respects residual-free pushed filters") {
    val df = kv.filter(col("age") < 10).agg(count(lit(1)).as("n"), max(col("age")).as("m"))
    val r = df.collect().head
    assert(r.getAs[Long]("n") == peopleDf.filter(col("age") < 10).count())
    assert(r.getAs[Int]("m") == 9)
  }

  test("grouped aggregate pushdown: GROUP BY a value column emits per-shard partials") {
    val df = kv.groupBy(col("alive")).agg(count(lit(1)).as("n"),
      min(col("age")).as("min_age"), max(col("name")).as("max_name"),
      sum(col("age")).as("sum_age"))
    val sums = (1 to 1000).groupBy(_ % 2 == 0).map { case (k, is) =>
      k -> is.map(_ % 60).sum.toLong
    }
    val m = df.collect().map(r => r.getAs[Boolean]("alive") ->
      (r.getAs[Long]("n"), r.getAs[Int]("min_age"), r.getAs[String]("max_name"))).toMap
    val sm = df.collect().map(r =>
      r.getAs[Boolean]("alive") -> r.getAs[Long]("sum_age")).toMap
    assert(m(true) == ((500L, 0, "people998")))
    assert(m(false) == ((500L, 1, "people999")))
    assert(sm(true) == sums(true) && sm(false) == sums(false))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates"), s"grouped aggregates must push:\n$plan")
    assert(plan.contains("PushedGroupBy: [alive]"), s"group columns must push:\n$plan")
    // the scan must emit PARTIALS (≤ groups × shards rows), not raw rows
    val emitted = PlannedKvScan(df).metric("numOutputRows")
    assert(emitted <= 16, s"scan emitted $emitted rows; grouped pushdown must " +
      "produce at most 2 groups x 8 shards partial rows, not 1000 raw rows")
  }

  test("grouped aggregate pushdown: GROUP BY the rowkey streams sorted groups") {
    val df = kv.filter(col("id") <= 5L).groupBy(col("id"))
      .agg(count(lit(1)).as("n"), max(col("age")).as("a"))
    val rows = df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n"), r.getAs[Int]("a")))
    assert(rows.sortBy(_._1).toSeq == (1L to 5L).map(i => (i, 1L, i.toInt)),
      s"rowkey-grouped partials wrong: ${rows.toSeq}")
    // bounded and small: the driver folds the one shard
    val driver = PlannedKvScan(df).scan.description()
    assert(driver.contains("Read: driver") && driver.contains("PushedGroupBy: [id]"),
      s"rowkey grouping must push:\n$driver")
    // unbounded: per-shard partials, each shard streaming its sorted groups
    val all = kv.groupBy(col("id")).agg(count(lit(1)).as("n"), max(col("age")).as("a"))
    val allRows = all.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n"), r.getAs[Int]("a")))
    assert(allRows.sortBy(_._1).toSeq == (1L to 1000L).map(i => (i, 1L, (i % 60).toInt)),
      "rowkey-grouped partials over every shard")
    val plan = df.queryExecution.executedPlan.toString()
    val allPlan = all.queryExecution.executedPlan.toString()
    assert(allPlan.contains("Read: per shard") && allPlan.contains("PushedGroupBy: [id]"),
      s"rowkey grouping must push:\n$allPlan")
    assert(!plan.contains("BatchScan"), s"the bounded form reads on the driver:\n$plan")
  }

  test("grouped aggregate pushdown: a NULL group key forms one group (SQL semantics)") {
    val df = kv.groupBy(col("c")).agg(count(lit(1)).as("n"), count(col("c")).as("nc"))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.isNullAt(0), "c is always null → one null group")
    assert(rows.head.getAs[Long]("n") == 1000L && rows.head.getAs[Long]("nc") == 0L)
    assert(df.queryExecution.executedPlan.toString().contains("PushedGroupBy: [c]"))
  }

  test("grouped aggregates over unpushable shapes stay in Spark and stay correct") {
    // expression group key → not a plain column → no pushdown
    val df = kv.groupBy((col("age") % 2).as("parity")).agg(count(lit(1)).as("n"))
    assert(!df.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    val m = df.collect().map(r => r.getAs[Int]("parity") -> r.getAs[Long]("n")).toMap
    assert(m.values.sum == 1000L)
  }

  test("extended types round-trip: decimal, array<float>, map<string,string>") {
    val extDir = Files.createTempDirectory("graft-kv-ext").toString
    val extCat =
      """{"table":{"name":"ext"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "price":{"cf":"f","col":"p","type":"decimal(18,2)"},
        |            "emb":{"cf":"f","col":"e","type":"array<float>"},
        |            "props":{"cf":"f","col":"m","type":"map<string,string>"}}}""".stripMargin
    import spark.implicits._
    val df = (1L to 50L).map { k =>
      (k, BigDecimal(k * 100 + 0.25).setScale(2),
        Array(k.toFloat, -k.toFloat, 0.5f),
        Map("id" -> k.toString, "tag" -> s"t$k"))
    }.toDF("k", "price", "emb", "props")
      .select(col("k"), col("price").cast("decimal(18,2)").as("price"),
        col("emb"), col("props"))
    df.write.format("graft-kv").option("catalog", extCat).option("path", extDir)
      .mode("overwrite").save()
    val back = spark.read.format("graft-kv")
      .option("catalog", extCat).option("path", extDir).load()
    val r = back.filter(col("k") === 7L).collect().head
    assert(r.getAs[java.math.BigDecimal]("price").toString == "700.25")
    assert(r.getAs[scala.collection.Seq[Float]]("emb").toSeq == Seq(7f, -7f, 0.5f))
    assert(r.getAs[Map[String, String]]("props") == Map("id" -> "7", "tag" -> "t7"))
    // decimal comparisons are pushable and correct
    assert(back.filter(col("price") > BigDecimal(2500)).count() ==
      (1L to 50L).count(k => k * 100 + 0.25 > 2500))
    // filters on array/map columns stay residual but still evaluate
    assert(back.filter(size(col("emb")) === 3).count() == 50)
  }

  test("calendar (interval) columns read correctly — the reference's TODO-crash type") {
    // Spark's analyzer forbids INTERVAL in a WRITE schema, and the
    // reference is read-only anyway — so cells are loaded through the
    // low-level writer and read through the Spark scan, exactly the
    // surface the reference declares (`DefaultSource.scala:54`) but
    // crashes on (`HbasePartitionReader.scala:67` TODO).
    import graft.kv.{KvStore, KvTableMeta}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.CalendarInterval
    val civDir = Files.createTempDirectory("graft-kv-cal").toString
    val civCat =
      """{"table":{"name":"cal"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "iv":{"cf":"f","col":"iv","type":"calendar"}}}""".stripMargin
    val schema = KvCatalog.parse(civCat).schema
    // two writer tasks → two shards, so the compaction assertion below
    // actually rewrites (the compactor no-ops on a single shard)
    val shards = Seq(1 to 10, 11 to 20).zipWithIndex.flatMap { case (ks, pid) =>
      val w = new KvDataWriter(civDir, schema, schema, "k", pid, 0L)
      ks.foreach { k =>
        w.write(InternalRow(k.toLong, new CalendarInterval(k % 3, k, k * 1000L + 500L)))
      }
      w.commit().asInstanceOf[KvCommit].shards
    }
    KvStore.writeMeta(civDir, KvTableMeta(shards))
    val back = spark.read.format("graft-kv")
      .option("catalog", civCat).option("path", civDir).load()
    assert(back.schema("iv").dataType ==
      org.apache.spark.sql.types.CalendarIntervalType)
    val got = back.collect().map(r =>
      r.getAs[Long]("k") -> r.getAs[CalendarInterval]("iv")).toMap
    assert(got.size == 20)
    (1 to 20).foreach { k =>
      assert(got(k.toLong) == new CalendarInterval(k % 3, k, k * 1000L + 500L),
        s"interval cell for k=$k must round-trip exactly")
    }
    // interval columns coexist with pushable rowkey predicates
    val one = back.filter(col("k") === 7L).collect().head
    assert(one.getAs[CalendarInterval]("iv") == new CalendarInterval(1, 7, 7500L))
    // r19: calendar columns batch (struct-children vector layout) — the
    // default read above already rode the columnar path; pin the plan
    // and the row-path agreement explicitly
    assert(physicalPlan(back).contains("ColumnarToRow"),
      s"calendar projection must batch through the vectorized reader:\n${physicalPlan(back)}")
    val rowPath = spark.read.format("graft-kv")
      .option("catalog", civCat).option("path", civDir)
      .option("columnar", "false").load()
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[CalendarInterval]("iv")).toMap
    assert(rowPath == got, "columnar and row readers must agree on interval cells")
    // WRITE-path parity (r17): the maintenance rewrite must round-trip
    // interval cells too — compact the two shards and re-read
    assert(graft.kv.KvCompactor.compact(civDir, targetBytes = 1L << 20) > 0,
      "compaction must actually rewrite the two shards")
    val after = spark.read.format("graft-kv")
      .option("catalog", civCat).option("path", civDir).load()
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[CalendarInterval]("iv")).toMap
    assert(after == got, "interval cells must survive the compaction rewrite exactly")
  }

  test("review regressions: -0.0 equality, pre-epoch ts filter, case-insensitive options") {
    import spark.implicits._
    val zDir = Files.createTempDirectory("graft-kv-zero").toString
    val zCat =
      """{"table":{"name":"z"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"double"},
        |            "ts":{"cf":"f","col":"ts","type":"timestamp"}}}""".stripMargin
    val preEpoch = Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.500Z"))
    Seq((-0.0, preEpoch), (1.5, Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z"))))
      .toDF("k", "ts")
      .write.format("graft-kv").option("catalog", zCat).option("path", zDir)
      .mode("overwrite").save()
    // Case-insensitive option keys must work end to end
    val df = spark.read.format("graft-kv")
      .option("Catalog", zCat).option("Path", zDir).load()
    // SQL semantics: -0.0 = 0.0 — pushed EqualTo must keep the row
    assert(df.filter(col("k") === 0.0).count() == 1)
    // pre-epoch fractional-second timestamp literal compares correctly
    assert(df.filter(col("ts") === preEpoch).count() == 1)
    assert(df.filter(col("ts") < Timestamp.from(java.time.Instant.EPOCH)).count() == 1)
  }

  test("catalog with non-rowkey-cf rowkey is rejected at parse time") {
    val bad =
      """{"table":{"name":"bad"},"rowkey":"id",
        | "columns":{"id":{"cf":"columns","col":"id","type":"long"}}}""".stripMargin
    val e = intercept[IllegalArgumentException](KvCatalog.parse(bad))
    assert(e.getMessage.contains("pseudo column family"))
  }

  test("min/max pushdown on decimal works; on array it stays in Spark") {
    val extDir = Files.createTempDirectory("graft-kv-aggext").toString
    val extCat =
      """{"table":{"name":"aggext"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "price":{"cf":"f","col":"p","type":"decimal(18,2)"},
        |            "emb":{"cf":"f","col":"e","type":"array<float>"}}}""".stripMargin
    import spark.implicits._
    (1L to 20L).map(k => (k, BigDecimal(k).setScale(2), Array(k.toFloat)))
      .toDF("k", "price", "emb")
      .select(col("k"), col("price").cast("decimal(18,2)").as("price"), col("emb"))
      .write.format("graft-kv").option("catalog", extCat).option("path", extDir)
      .mode("overwrite").save()
    val back = spark.read.format("graft-kv").option("catalog", extCat)
      .option("path", extDir).load()
    val r = back.agg(max(col("price")).as("mx"), count(lit(1)).as("n")).collect().head
    assert(r.getAs[java.math.BigDecimal]("mx").toString == "20.00")
    assert(r.getAs[Long]("n") == 20L)
    // array min/max is not claimable by the scan; Spark evaluates size-based agg fine
    assert(back.agg(max(size(col("emb")))).collect().head.getInt(0) == 1)
  }

  test("two writers with identical (partitionId, taskId) never collide — cross-JVM append safety") {
    // Simulates the documented writer/reader split: a second application
    // appending to the same table dir re-issues the same partition/task
    // ids, which before the per-writer token truncated committed shards.
    import graft.kv.{KvStore, KvTableMeta}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dwDir = Files.createTempDirectory("graft-kv-dualwriter").toString
    val catJson =
      """{"table":{"name":"dw"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    val schema = KvCatalog.parse(catJson).schema
    def writeWith(offset: Long): KvCommit = {
      val w = new KvDataWriter(dwDir, schema, schema, "k", 0, 0L)
      (0L until 10L).foreach { i =>
        w.write(InternalRow(offset + i, UTF8String.fromString(s"v${offset + i}")))
      }
      w.commit().asInstanceOf[KvCommit]
    }
    val c1 = writeWith(0L)
    val c2 = writeWith(100L) // same partitionId=0, taskId=0 — "second JVM"
    assert(c1.shards.map(_.file).toSet.intersect(c2.shards.map(_.file).toSet).isEmpty,
      "shard names from distinct writers must never collide")
    KvStore.writeMeta(dwDir, KvTableMeta(c1.shards ++ c2.shards))
    val back = spark.read.format("graft-kv")
      .option("catalog", catJson).option("path", dwDir).load()
    assert(back.count() == 20L, "no shard may be truncated by the other writer")
    assert(back.collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L)).sorted)
  }

  test("partition larger than chunkBytes spills to multiple sorted shard runs") {
    val spDir = Files.createTempDirectory("graft-kv-spill").toString
    val catJson =
      """{"table":{"name":"sp"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    import spark.implicits._
    // one task, reverse-sorted input → per-chunk sort must kick in
    (1 to 1000).reverse.map(k => (k.toLong, s"value-$k")).toDF("k", "v")
      .coalesce(1)
      .write.format("graft-kv")
      .option("catalog", catJson).option("path", spDir)
      .option("chunkBytes", "4096") // tiny run size forces roll-over
      .mode("overwrite").save()
    val shards = graft.kv.KvStore.readMeta(spDir).shards
    assert(shards.length > 1, s"expected multiple sorted runs, got ${shards.length}")
    assert(shards.map(_.rows).sum == 1000L)
    val back = spark.read.format("graft-kv")
      .option("catalog", catJson).option("path", spDir).load()
    assert(back.count() == 1000L)
    // chunk runs overlap in key range; range predicates must still be exact
    assert(back.filter(col("k") <= 10).collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      (1L to 10L))
    assert(back.filter(col("k") === 500).collect().head.getAs[String]("v") == "value-500")
  }

  test("pushed string comparisons follow UTF8 binary order (supplementary plane)") {
    // U+10000 is ONE code point above the BMP: UTF-16 compareTo orders it
    // BELOW U+E000 (surrogate 0xD800 < 0xE000) while Spark's UTF8String
    // binary order puts it ABOVE (0xF0 > 0xEE). Pushed filters are
    // reported handled, so the scan must match Spark, not java.lang.String.
    val uDir = Files.createTempDirectory("graft-kv-utf8").toString
    val catJson =
      """{"table":{"name":"u"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    import spark.implicits._
    val supp = new String(Character.toChars(0x10000)) // F0 90 80 80 in UTF-8
    val pua = "\uE000"                                // EE 80 80 in UTF-8
    val src = Seq((1L, pua), (2L, supp), (3L, "plain")).toDF("k", "v")
    src.write.format("graft-kv").option("catalog", catJson).option("path", uDir)
      .mode("overwrite").save()
    val back = spark.read.format("graft-kv")
      .option("catalog", catJson).option("path", uDir).load()
    for (mk <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ > pua, _ >= pua, _ < pua, _ <= pua,
        _ > supp, _ < supp)) {
      val viaKv = back.filter(mk(col("v"))).collect().map(_.getAs[Long]("k")).sorted.toSeq
      val viaDf = src.filter(mk(col("v"))).collect().map(_.getAs[Long]("k")).sorted.toSeq
      assert(viaKv == viaDf, s"pushdown row set diverged from Spark semantics: $viaKv vs $viaDf")
    }
    // the case UTF-16 compareTo gets wrong: supp must sort ABOVE pua
    // ("plain" starts at 0x70 and stays below in both orders)
    assert(back.filter(col("v") > pua).collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      Seq(2L))
    // and the predicate really is pushed, not residual
    assert(physicalPlan(back.filter(col("v") > pua)).contains("GreaterThan(v,"))
  }

  test("shard manifest hosts surface as partition preferredLocations") {
    import graft.kv.{KvStore, KvTableMeta}
    val plDir = Files.createTempDirectory("graft-kv-hosts").toString
    val catJson =
      """{"table":{"name":"pl"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1)
      .write.format("graft-kv").option("catalog", catJson).option("path", plDir)
      .mode("overwrite").save()
    // annotate the shard with locality hints (what a region server / block
    // placement report would provide) and round-trip through the manifest
    val meta = KvStore.readMeta(plDir)
    KvStore.writeMeta(plDir,
      KvTableMeta(meta.shards.map(_.copy(hosts = Seq("host-a", "host-b")))))
    assert(KvStore.readMeta(plDir).shards.head.hosts == Seq("host-a", "host-b"))
    val cat = KvCatalog.parse(catJson)
    val scan = new KvScanBuilder(cat, plDir).build()
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    assert(parts.head.preferredLocations().toSeq == Seq("host-a", "host-b"),
      "manifest hosts must reach Spark's locality-aware scheduling")
  }

  test("filter negotiation runs through the v2 Predicate API") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val b = new KvScanBuilder(KvCatalog.parse(catalogJson), dir)
    // the v1 interface must be ABSENT: Spark consults it first, which
    // would make the v2 path dead code
    assert(b.isInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownV2Filters])
    assert(!b.isInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters])
    // flipped operand order (lit < col) must translate with the
    // comparison direction swapped
    val flipped = new Predicate("<",
      Array(Expressions.literal(5), Expressions.column("age")))
    assert(V2Filters.toV1(flipped).contains(
      org.apache.spark.sql.sources.GreaterThan("age", 5)))
    val residual = b.pushPredicates(Array(flipped))
    assert(residual.isEmpty && b.pushedPredicates().length == 1)
  }

  test("SQL DDL surface: CREATE TABLE USING graft-kv, INSERT INTO, SELECT") {
    val ddlDir = Files.createTempDirectory("graft-kv-ddl").toString
    val catJson =
      """{"table":{"name":"ddl"},"rowkey":"k","columns":{""" +
        """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
        """"v":{"cf":"f","col":"v","type":"string"}}}"""
    spark.sql("DROP TABLE IF EXISTS graft_ddl")
    spark.sql(s"""
      CREATE TABLE graft_ddl USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$ddlDir')""")
    try {
      spark.sql(
        "INSERT INTO graft_ddl VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b')")
      spark.sql("INSERT INTO graft_ddl VALUES (CAST(3 AS BIGINT), 'c')")
      val got = spark.sql("SELECT k, v FROM graft_ddl WHERE k >= 2 ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((2L, "b"), (3L, "c")))
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl").collect().head.getLong(0) == 3L)
      // the catalog rewrites `path` to a file: URI — the data must land
      // in the REAL directory, not a literal "file:..." dir under cwd
      assert(new java.io.File(s"$ddlDir/_kvmeta.json").exists(),
        "DDL writes must resolve the catalog's file: URI to the real path")
      assert(!new java.io.File("file:").exists(),
        "no literal 'file:' directory may appear under the working directory")
    } finally spark.sql("DROP TABLE graft_ddl")
  }

  test("DELETE FROM pushes to a per-shard rewrite; untouched shards keep their files") {
    val delDir = Files.createTempDirectory("graft-kv-delete").toString
    val catJson =
      """{"table":{"name":"del"},"rowkey":"k","columns":{""" +
        """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
        """"grp":{"cf":"f","col":"g","type":"string"},""" +
        """"v":{"cf":"f","col":"v","type":"long"}}}"""
    import spark.implicits._
    (1L to 800L).map(k => (k, if (k <= 400) "a" else "b", k * 10))
      .toDF("k", "grp", "v")
      .repartitionByRange(8, col("k"))
      .write.format("graft-kv").option("catalog", catJson).option("path", delDir)
      .mode("overwrite").save()
    spark.sql("DROP TABLE IF EXISTS graft_del")
    spark.sql(s"""
      CREATE TABLE graft_del USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$delDir')""")
    try {
      val before = graft.kv.KvStore.readMeta(delDir)
      assert(before.shards.length == 8)

      // rowkey-range delete: shards outside [1,100] stay byte-identical
      spark.sql("DELETE FROM graft_del WHERE k <= 100")
      val after1 = graft.kv.KvStore.readMeta(delDir)
      assert(spark.table("graft_del").count() == 700)
      assert(spark.table("graft_del").agg(min(col("k"))).head().getLong(0) == 101L)
      val untouched = before.shards.map(_.file).toSet
        .intersect(after1.shards.map(_.file).toSet)
      assert(untouched.nonEmpty, "shards outside the delete range must keep their files")
      assert(after1.version == before.version + 1, "delete commits one manifest version")

      // value-column delete (no rowkey range): three-valued kept rows
      spark.sql("DELETE FROM graft_del WHERE grp = 'b' AND v > 7900")
      assert(spark.table("graft_del").count() == 700 - 10)

      // delete with nothing matching: manifest untouched (no version churn)
      val preNoop = graft.kv.KvStore.readMeta(delDir)
      spark.sql("DELETE FROM graft_del WHERE k > 100000")
      val postNoop = graft.kv.KvStore.readMeta(delDir)
      assert(postNoop.version == preNoop.version,
        "a no-op delete must not commit a new version")
      assert(postNoop.shards.map(_.file) == preNoop.shards.map(_.file))

      // integrity: every surviving shard verifies (fresh CRCs on rewrites)
      assert(graft.kv.KvStore.verifyTable(delDir) == postNoop.shards.length)

      // snapshot-friendliness: the pre-delete version stays readable
      // (replaced inputs retained on the grace clock)
      val pinned = spark.read.format("graft-kv")
        .option("catalog", catJson).option("path", delDir)
        .option("asOfVersion", before.version.toString).load()
      assert(pinned.count() == 800, "pre-delete snapshot must replay in full")

      // ...until vacuum reclaims them past the grace period
      assert(graft.kv.KvCompactor.vacuum(delDir, graceMs = -1000) > 0)
      assert(spark.table("graft_del").count() == 690, "live table survives vacuum")

      // an unpushable condition fails the canDeleteWhere metadata gate
      // and falls back to the GROUP-BASED rewrite (KvRowLevelOpsSpec
      // covers it in depth) — here it must delete everything, correctly
      spark.sql("DELETE FROM graft_del WHERE length(grp) = 1")
      assert(spark.table("graft_del").count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_del")
  }

  test("DELETE recomputes shard stats; manifest MIN/MAX excludes deleted extremes") {
    val dsDir = Files.createTempDirectory("graft-kv-delstats").toString
    val catJson =
      """{"table":{"name":"delstats"},"rowkey":"k","columns":{""" +
        """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
        """"v":{"cf":"f","col":"v","type":"long"}}}"""
    import spark.implicits._
    (1L to 1000L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.format("graft-kv").option("catalog", catJson).option("path", dsDir)
      .mode("overwrite").save()
    spark.sql("DROP TABLE IF EXISTS graft_delstats")
    spark.sql(s"""
      CREATE TABLE graft_delstats USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$dsDir')""")
    try {
      // the unfiltered global MIN/MAX rides the manifest fast path —
      // make sure this test exercises it, not a row scan
      val agg = spark.table("graft_delstats").agg(min(col("v")), max(col("v")))
      assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates"),
        "global MIN/MAX must ride aggregate pushdown for this test to bite")
      assert(agg.head() == Row(10L, 10000L))

      // remove each extreme: zone maps route each DELETE to one shard,
      // whose replacement must carry SURVIVOR stats, not the pre-delete
      // bounds (stale bounds stay sound for pruning but the manifest
      // fast path serves them as exact — the deleted extremes would
      // come back from the dead)
      spark.sql("DELETE FROM graft_delstats WHERE v >= 9000")
      spark.sql("DELETE FROM graft_delstats WHERE v <= 1000")
      val after = spark.table("graft_delstats").agg(min(col("v")), max(col("v")))
      assert(after.queryExecution.executedPlan.toString.contains("PushedAggregates"))
      assert(after.head() == Row(1010L, 8990L),
        "manifest-answered MIN/MAX must reflect the survivors, not deleted rows")

      // and the manifest itself: no shard's recorded v-bounds may cover
      // the deleted ranges
      val metas = graft.kv.KvStore.readMeta(dsDir).shards
      val bounds = metas.flatMap(_.stats.get("f:v")).map { case (mnHex, mxHex) =>
        (graft.kv.BytesCodec.decodeKey(org.apache.spark.sql.types.LongType,
           graft.kv.KvStore.fromHex(mnHex)).asInstanceOf[Long],
         graft.kv.BytesCodec.decodeKey(org.apache.spark.sql.types.LongType,
           graft.kv.KvStore.fromHex(mxHex)).asInstanceOf[Long])
      }
      assert(bounds.nonEmpty && bounds.map(_._1).min == 1010L &&
        bounds.map(_._2).max == 8990L,
        s"replacement shards must carry recomputed stats, got $bounds")
    } finally spark.sql("DROP TABLE IF EXISTS graft_delstats")
  }

  test("DELETE does not hold the table lock during its rewrite; a racing append lands") {
    val rcDir = Files.createTempDirectory("graft-kv-delrace").toString
    val catJson =
      """{"table":{"name":"delrace"},"rowkey":"k","columns":{""" +
        """"k":{"cf":"rowkey","col":"k","type":"long"},""" +
        """"v":{"cf":"f","col":"v","type":"long"}}}"""
    import spark.implicits._
    def write(ks: Seq[Long], mode: String) =
      ks.map(k => (k, k * 2)).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", catJson).option("path", rcDir)
        .mode(mode).save()
    write(1L to 500L, "overwrite")
    spark.sql("DROP TABLE IF EXISTS graft_delrace")
    spark.sql(s"""
      CREATE TABLE graft_delrace USING `graft-kv`
      OPTIONS (catalog '$catJson', path '$rcDir')""")
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // the appended keys are outside the delete range, so the final
      // state is deterministic whichever side commits first
      val del = Future(spark.sql("DELETE FROM graft_delrace WHERE k <= 100"))
      val app = Future(write(1001L to 1100L, "append"))
      Await.result(del, 60.seconds); Await.result(app, 60.seconds)
      val keys = spark.table("graft_delrace").select("k").collect().map(_.getLong(0)).sorted
      assert(keys.toSeq == ((101L to 500L) ++ (1001L to 1100L)),
        "both the delete and the concurrent append must commit")
    } finally spark.sql("DROP TABLE IF EXISTS graft_delrace")
  }

  test("parallel appends serialize on the table lock and lose nothing") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val parDir = Files.createTempDirectory("graft-kv-parallel").toString
    val catJson =
      """{"table":{"name":"par"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    import spark.implicits._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 4 concurrent append commits race on the manifest read-modify-write;
      // without the table lock an interleaving drops a writer's shards
      val futures = (0 until 4).map { w =>
        Future {
          (0 until 250).map(i => (w * 1000L + i, s"w$w-$i")).toDF("k", "v")
            .coalesce(1)
            .write.format("graft-kv")
            .option("catalog", catJson).option("path", parDir)
            .mode("append").save()
        }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally pool.shutdown()
    val back = spark.read.format("graft-kv")
      .option("catalog", catJson).option("path", parDir).load()
    assert(back.count() == 1000L, "every concurrent append must survive")
    assert(graft.kv.KvStore.readMeta(parDir).shards.length == 4)
  }

  test("append mode adds shards; overwrite truncates") {
    val apDir = Files.createTempDirectory("graft-kv-append").toString
    val cat =
      """{"table":{"name":"ap"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"string"}}}""".stripMargin
    import spark.implicits._
    def w(range: Range, mode: String) =
      range.map(k => (k.toLong, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("catalog", cat).option("path", apDir)
        .mode(mode).save()
    w(1 to 10, "overwrite")
    w(11 to 20, "append")
    val df = spark.read.format("graft-kv").option("catalog", cat).option("path", apDir).load()
    assert(df.count() == 20)
    w(1 to 3, "overwrite")
    assert(spark.read.format("graft-kv").option("catalog", cat)
      .option("path", apDir).load().count() == 3)
  }

  // ---- zone maps: value-column shard pruning ----

  test("zone maps prune shards on value-column predicates and survive compaction") {
    val zDir = Files.createTempDirectory("graft-kv-zone").toString
    val zCat =
      """{"table":{"name":"zoned"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "v":{"cf":"f","col":"v","type":"long"},
        |            "s":{"cf":"f","col":"s","type":"string"}}}""".stripMargin
    import spark.implicits._
    // v and s are monotone in the rowkey, so range-partitioned shards
    // carry disjoint value ranges — the shape zone maps exploit
    (1 to 800).map(k => (k.toLong, k.toLong * 10, f"s$k%04d")).toDF("k", "v", "s")
      .repartitionByRange(8, col("k"))
      .write.format("graft-kv").option("catalog", zCat).option("path", zDir)
      .mode("overwrite").save()
    def read(): DataFrame = spark.read.format("graft-kv")
      .option("catalog", zCat).option("path", zDir).load()

    assert(read().rdd.getNumPartitions == 8)
    // expected survivor counts derive from the WRITTEN shards' actual
    // zone maps, so the assertions test the pruning logic, not
    // RangePartitioner's sampled boundary placement
    def vBounds: Seq[(Long, Long)] =
      graft.kv.KvStore.readMeta(zDir).shards.flatMap(_.stats.get("f:v")).map {
        case (mnH, mxH) =>
          def dec(h: String): Long = graft.kv.BytesCodec.decodeKey(
            org.apache.spark.sql.types.LongType,
            graft.kv.KvStore.fromHex(h)).asInstanceOf[Long]
          (dec(mnH), dec(mxH))
      }
    def covering(windows: (Long, Long)*): Int =
      vBounds.count { case (mn, mx) =>
        windows.exists { case (lo, hi) => mx >= lo && mn <= hi }
      }
    assert(vBounds.length == 8, "every shard must carry v bounds")
    val eq = read().filter(col("v") === 4000L)
    assert(eq.rdd.getNumPartitions == covering((4000L, 4000L)) &&
      eq.rdd.getNumPartitions < 8, "v=4000 keeps only the covering shards")
    assert(eq.collect().map(_.getAs[Long]("k")).toSeq == Seq(400L))
    // the pruning shows up in the scan's driver metrics too
    val zm = eq.queryExecution.executedPlan.collectLeaves().head.metrics
    assert(zm("kvShardsPrunedZoneMap").value == 8 - covering((4000L, 4000L)))
    val range = read().filter(col("v") > 7000L)
    assert(range.rdd.getNumPartitions == covering((7001L, Long.MaxValue)) &&
      range.rdd.getNumPartitions < 8, "top value range keeps only the tail shards")
    assert(range.count() == 100)
    val strEq = read().filter(col("s") === "s0123")
    assert(strEq.rdd.getNumPartitions < 8, "string bounds prune too")
    assert(strEq.collect().map(_.getAs[Long]("k")).toSeq == Seq(123L))
    val in = read().filter(col("v").isin(50L, 7990L))
    assert(in.rdd.getNumPartitions == covering((50L, 50L), (7990L, 7990L)) &&
      in.rdd.getNumPartitions < 8, "IN keeps exactly the shards covering its literals")
    assert(in.count() == 2)
    // spanning predicate keeps everything; IsNull never prunes
    assert(read().filter(col("v") >= 0L).rdd.getNumPartitions == 8)
    assert(read().filter(col("s").isNull).count() == 0)

    // compaction merges bounds by byte order (no schema in the
    // compactor) — pruning keeps working on the merged manifest
    val total = graft.kv.KvStore.readMeta(zDir).shards
      .map(s => new java.io.File(s"$zDir/${s.file}").length()).sum
    assert(graft.kv.KvCompactor.compact(zDir, targetBytes = total / 2 + 1) >= 2)
    val after = graft.kv.KvStore.readMeta(zDir).shards
    assert(after.length < 8 && after.forall(_.stats.nonEmpty),
      s"merged shards must carry merged stats: $after")
    val eq2 = read().filter(col("v") === 4000L)
    assert(eq2.rdd.getNumPartitions == 1)
    assert(eq2.collect().map(_.getAs[Long]("k")).toSeq == Seq(400L))
    assert(read().count() == 800)
  }

  // ---- vectorized (ColumnarBatch) read path ----

  test("columnar scan is planned for flat schemas and matches the row path") {
    written
    def read(columnar: Boolean): DataFrame = spark.read.format("graft-kv")
      .option("catalog", catalogJson).option("path", dir)
      .option("columnar", columnar.toString).load()
    // projection spanning every flat type incl. the always-null cell `c`,
    // plus pushed filters, so both paths decode + filter + project. The
    // value-column filters leave the rowkey unbounded, so the read stays
    // distributed and its reader is the one the columnar option picks
    def q(df: DataFrame): DataFrame = df
      .filter(col("age") >= 30 && col("height") > 2.0)
      .select(col("id"), col("name"), col("alive"), col("age"),
              col("birthDateTime"), col("birthDate"), col("height"),
              col("b"), col("c"))
    val vec = q(read(columnar = true))
    val row = q(read(columnar = false))
    assert(physicalPlan(vec).contains("ColumnarToRow"),
      s"flat scan must go through the vectorized reader:\n${physicalPlan(vec)}")
    assert(!physicalPlan(row).contains("ColumnarToRow"),
      "columnar=false must pin the row reader")
    val a = vec.collect().map(_.toString).sorted
    val b = row.collect().map(_.toString).sorted
    assert(a.length == row.count() && a.sameElements(b),
      "vectorized and row readers must produce identical results")
    // a rowkey bound within the one-reader budget reads on the driver
    // through the row reader whatever the option, with the same rows
    val bounded = (df: DataFrame) => q(df).filter(col("id") > 100)
    val driver = PlannedKvScan(bounded(read(columnar = true))).scan.description()
    assert(driver.contains("Read: driver, Columnar: false"), driver)
    assert(bounded(read(columnar = true)).collect().map(_.toString).sorted.toSeq ==
      a.filter(_.split(",")(0).stripPrefix("[").toLong > 100L).toSeq)
  }

  test("nested projections and DESC top-N batch through the columnar reader") {
    // array<float>/map cells write through child-column vectors (r17) —
    // an embedding scan is exactly the shape that must batch at 100 TB
    val vecDir = Files.createTempDirectory("graft-kv-vec").toString
    val cat =
      """{"table":{"name":"vecs"},"rowkey":"k",
        | "columns":{"k":{"cf":"rowkey","col":"k","type":"long"},
        |            "emb":{"cf":"f","col":"emb","type":"array<float>"}}}""".stripMargin
    import spark.implicits._
    (1 to 50).map(k => (k.toLong, Array(k.toFloat, 2f * k)))
      .toDF("k", "emb").coalesce(1)
      .write.format("graft-kv").option("catalog", cat).option("path", vecDir)
      .mode("overwrite").save()
    val nested = spark.read.format("graft-kv")
      .option("catalog", cat).option("path", vecDir).load()
    assert(physicalPlan(nested).contains("ColumnarToRow"),
      s"array<float> projection must batch through the vectorized reader:\n${physicalPlan(nested)}")
    assert(nested.select(sum(element_at(col("emb"), 2))).head().getDouble(0)
      == (1 to 50).map(_ * 2.0).sum)
    // calendar-interval batches too as of r19 (struct-children layout)
    import org.apache.spark.sql.types._
    assert(graft.sources.KvColumnarReader.eligible(StructType(Seq(
      StructField("iv", CalendarIntervalType)))),
      "calendar-interval must claim columnar eligibility (r19)")
    // DESC-tail top-N rides the columnar ring buffer (r19; it used to
    // force the whole scan onto the row path) — and must agree with the
    // row reader bit for bit, including the newest-first order
    val desc = kv.orderBy(col("id").desc).limit(5)
    assert(physicalPlan(desc).contains("ColumnarToRow"),
      s"DESC top-N pushdown must batch through the columnar ring buffer:\n${physicalPlan(desc)}")
    assert(desc.collect().map(_.getAs[Long]("id")).toSeq == (996L to 1000L).reverse)
    val descRow = spark.read.format("graft-kv")
      .option("catalog", catalogJson).option("path", dir)
      .option("columnar", "false").load()
      .orderBy(col("id").desc).limit(5)
    assert(!physicalPlan(descRow).contains("ColumnarToRow"))
    assert(desc.collect().map(_.toString).toSeq ==
      descRow.collect().map(_.toString).toSeq,
      "columnar and row DESC tails must serve identical rows in identical order")
  }

  test("scan reports pruning metrics: total shards and per-axis pruned counts") {
    written
    val nShards = graft.kv.KvStore.readMeta(dir).shards.length
    assert(nShards == 8, "fixture writes 8 range-partitioned shards")
    // id <= 100 → exactly the first of 8 range-tight shards (rows 1-125)
    // survives; the reader still decodes all 125 records of that shard
    // (a read this small and bounded runs on the driver, so its scan
    // object carries the counters; the unbounded reads below keep them
    // on the distributed scan node)
    val df = kv.filter(col("id") <= 100)
    assert(df.count() == 100)
    df.collect()
    val planned = PlannedKvScan(df)
    assert(planned.isDriver)
    val names = planned.scan.supportedCustomMetrics().map(_.name()).toSet
    assert(names("kvShardsTotal") && names("kvShardsPrunedKeyRange"),
      s"scan must expose the custom pruning metrics, has: $names")
    assert(planned.metric("kvShardsTotal") == nShards)
    assert(planned.metric("kvShardsPrunedKeyRange") == nShards - 1,
      s"id<=100 must prune all but one shard, pruned ${planned.metric("kvShardsPrunedKeyRange")}")
    assert(planned.metric("kvRecordsRead") == 100,
      "in-shard range clipping bounds decode cost: only the clipped prefix is read")
    // a non-rowkey predicate can't clip: every record is decoded even
    // though few survive — kvRecordsRead is PRE-filter, the true cost
    val vf = kv.filter(col("age") === 0)
    assert(vf.count() < 50)
    vf.collect()
    val vm = vf.queryExecution.executedPlan.collectLeaves().head.metrics
    assert(vm("kvRecordsRead").value == 1000,
      s"value filter decodes every record, got ${vm("kvRecordsRead").value}")
    // unfiltered scan prunes nothing; task metrics report the read volume
    val all = kv.select(col("id"))
    assert(all.count() == 1000)
    all.collect()
    val leaf = all.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.metrics("kvShardsPrunedKeyRange").value == 0)
    assert(leaf.metrics("kvShardsTotal").value == nShards)
    assert(leaf.metrics("kvRecordsRead").value == 1000,
      s"task metric must sum emitted records, got ${leaf.metrics("kvRecordsRead").value}")
    val bytes = leaf.metrics("kvBytesRead").value
    val onDisk = graft.kv.KvStore.readMeta(dir).shards
      .map(s => new java.io.File(s"$dir/${s.file}").length()).sum
    assert(bytes == onDisk, s"full scan must consume every shard byte ($bytes vs $onDisk)")
  }

  test("metric classes are UI-instantiable; writePartitions alone stays a plain write") {
    // the SQL UI re-instantiates metric classes reflectively via a
    // no-arg constructor — without one it silently renders "N/A"
    KvScanMetrics.supported.foreach { m =>
      val fresh = m.getClass.getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
      assert(fresh.name() == m.name() && fresh.aggregateTaskMetrics(Array(2L, 3L)) == "5")
    }
    // writePartitions without distributeByRange must not poison the plan
    // (a partition count on an unspecified distribution is rejected by
    // Spark at planning)
    import spark.implicits._
    val d2 = Files.createTempDirectory("graft-kv-wp-only").toString
    Seq((1L, "a")).toDF("id", "payload").write.format("graft-kv")
      .option("catalog",
        """{"table":{"name":"wp"},"rowkey":"id",
          | "columns":{"id":{"cf":"rowkey","col":"id","type":"long"},
          |            "payload":{"cf":"f","col":"p","type":"string"}}}""".stripMargin)
      .option("path", d2).option("writePartitions", "8")
      .mode("overwrite").save()
    assert(graft.kv.KvStore.readMeta(d2).shards.map(_.rows).sum == 1)
  }

  test("distributeByRange asks Spark for the layout: shards land range-tight") {
    import spark.implicits._
    val rows = (1L to 10000L).map(k => (k, s"v$k")).toDF("id", "payload")
    val cat =
      """{"table":{"name":"layout"},"rowkey":"id",
        | "columns":{"id":{"cf":"rowkey","col":"id","type":"long"},
        |            "payload":{"cf":"f","col":"p","type":"string"}}}""".stripMargin
    def overlaps(dir: String): Int = {
      val shards = graft.kv.KvStore.readMeta(dir).shards
        .sortWith((a, b) => graft.kv.BytesCodec.compareKeys(a.minKey, b.minKey) < 0)
      shards.sliding(2).count {
        case Seq(a, b) => graft.kv.BytesCodec.compareKeys(b.minKey, a.maxKey) <= 0
        case _ => false
      }
    }
    // hash-partitioned baseline: sequential keys spread over every
    // partition, so shard ranges all overlap (correct, but un-prunable)
    val hashDir = Files.createTempDirectory("graft-kv-layout-hash").toString
    rows.repartition(8).write.format("graft-kv")
      .option("catalog", cat).option("path", hashDir).mode("overwrite").save()
    assert(graft.kv.KvStore.readMeta(hashDir).shards.length > 1)
    assert(overlaps(hashDir) > 0, "hash layout should overlap (else this test is vacuous)")
    // ordered distribution: Spark range-partitions + sorts before the
    // writer sees a row — disjoint shard ranges with no caller shuffle
    val rangeDir = Files.createTempDirectory("graft-kv-layout-range").toString
    rows.repartition(8).write.format("graft-kv")
      .option("catalog", cat).option("path", rangeDir)
      .option("distributeByRange", "true").option("writePartitions", "8")
      .mode("overwrite").save()
    val shards = graft.kv.KvStore.readMeta(rangeDir).shards
    assert(shards.length > 1, "range write should still parallelize")
    assert(overlaps(rangeDir) == 0, "ordered distribution must yield disjoint shard ranges")
    // identical content either way
    val a = spark.read.format("graft-kv").option("catalog", cat).option("path", hashDir).load()
    val b = spark.read.format("graft-kv").option("catalog", cat).option("path", rangeDir).load()
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("schema evolution: a catalog with added columns reads older shards as null") {
    written
    // the same table read through a WIDER catalog — two columns the
    // writer never stored. Cells are stored per-column, so a missing
    // cell is simply absent from the record and decodes as NULL — no
    // shard rewrite, the schema-evolution story of column-family stores.
    val widened =
      """{
        |  "table": {"namespace": "default", "name": "people"},
        |  "rowkey": "id",
        |  "columns": {
        |    "id": {"cf": "rowkey", "col": "id", "type": "long"},
        |    "name": {"cf": "columns", "col": "name", "type": "string"},
        |    "age": {"cf": "columns", "col": "age", "type": "int"},
        |    "nickname": {"cf": "columns", "col": "nickname", "type": "string"},
        |    "score": {"cf": "extra", "col": "score", "type": "double"}
        |  }
        |}""".stripMargin
    val wide = spark.read.format("graft-kv")
      .option("catalog", widened).option("path", dir).load()
    assert(wide.count() == 1000, "widened catalog must still see every row")
    assert(wide.filter(col("nickname").isNotNull || col("score").isNotNull).count() == 0,
      "columns absent from older shards must decode as NULL")
    // IS NULL on the added column is pushable and keeps all rows; the
    // mixed old+new-column predicate still evaluates correctly
    val f = wide.filter(col("nickname").isNull && col("age") >= 30)
    assert(f.count() == wide.filter(col("age") >= 30).count())
    // and a write THROUGH the widened catalog round-trips the new cells
    val evoDir = Files.createTempDirectory("graft-kv-evolved").toString
    import spark.implicits._
    Seq((2000L, "late", 31, "nick", 9.5))
      .toDF("id", "name", "age", "nickname", "score")
      .write.format("graft-kv").option("catalog", widened).option("path", evoDir)
      .mode("overwrite").save()
    val back = spark.read.format("graft-kv")
      .option("catalog", widened).option("path", evoDir).load().collect()
    assert(back.length == 1 && back(0).getAs[String]("nickname") == "nick"
      && back(0).getAs[Double]("score") == 9.5)
  }
}
