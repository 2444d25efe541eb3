package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The config-only install route: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` resolves the native
  * functions with no programmatic register() call, and every session
  * gets the driver-read strategy from the service-loaded provider. */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions=graft.GraftExtensions installs the native functions") {
    val base = SparkSpec.session // ensures a SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is read from the SparkContext conf at
      // startup, which a test sharing one JVM-wide context cannot
      // change; .withExtensions drives the IDENTICAL injection path
      // (the config string is just Utils.loadExtensions + this call)
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base, "builder must mint a fresh session to apply extensions")
      import s.implicits._
      val row = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(3, 4), Array(2, 10)))
        .toDF("a", "b", "qa", "qb")
        .select(
          expr("cosine_sim(a, b)").as("cos"),
          expr("int8_dot(qa, qb)").as("dot"),
          size(expr("lsh_buckets(a)")).as("n_buckets"))
        .head()
      assert(row.getAs[Double]("cos") == 1.0)
      assert(row.getAs[Long]("dot") == 3L * 2L + 4L * 10L)
      assert(row.getAs[Int]("n_buckets") == 4, "4 LSH tables by default")
      // DESCRIBE surface works too (ExpressionInfo wired)
      assert(s.sql("DESCRIBE FUNCTION cosine_sim").collect()
        .exists(_.getString(0).contains("cosine_sim")))
      // parity with the programmatic route on the base session
      functions.CosineSimilarity.register(base)
      val viaRegister = {
        import base.implicits._
        Seq((Array(1.0f, 2.0f), Array(2.0f, 1.0f))).toDF("a", "b")
          .select(expr("cosine_sim(a, b)")).head().getDouble(0)
      }
      val viaExtensions = {
        Seq((Array(1.0f, 2.0f), Array(2.0f, 1.0f))).toDF("a", "b")
          .select(expr("cosine_sim(a, b)")).head().getDouble(0)
      }
      assert(viaRegister == viaExtensions, "both install routes run the same expression")
      // arity misuse fails with a clear message, not an index error
      val tooFew = intercept[Exception] {
        Seq(Tuple1(Array(1.0f))).toDF("a").select(expr("cosine_sim(a)")).head()
      }
      assert(tooFew.getMessage.contains("expects 2 arguments"), tooFew.getMessage)
      val tooMany = intercept[Exception] {
        Seq(Tuple1(Array(1.0f))).toDF("a").select(expr("lsh_buckets(a, 8)")).head()
      }
      assert(tooMany.getMessage.contains("expects 1 argument"), tooMany.getMessage)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("every session plans a bounded KV range as one LocalTableScan, installed once or twice") {
    val base = SparkSpec.session
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-install").toString
    val cat = """{"table":{"name":"install"},"rowkey":"k","columns":{""" +
      """"k":{"cf":"rowkey","col":"k","type":"long"},"v":{"cf":"f","col":"v","type":"long"}}}"""
    base.range(0L, 1000L).select(col("id").as("k"), (col("id") * 2L).as("v"))
      .repartitionByRange(4, col("k"))
      .write.format("graft-kv").option("catalog", cat).option("path", dir).mode("append").save()
    assert(base.sparkContext.getConf.getOption("spark.sql.extensions").isEmpty,
      "the shared context names no extension in config")
    def fresh(install: Option[GraftExtensions]): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val b = SparkSession.builder()
      install.fold(b)(b.withExtensions(_)).getOrCreate()
    }
    try {
      val once = fresh(None)
      val twice = fresh(Some(new GraftExtensions))
      assert((once ne base) && (twice ne once), "each builder call must mint a fresh session")
      def installed(s: SparkSession): Int =
        s.sessionState.planner.strategies.count(_ eq sources.KvDriverReadStrategy)
      assert(installed(once) == 1 && installed(twice) == 2)
      // a projection that reorders the columns and a residual filter sit
      // above the driver read; both fold into the one local node
      def query(s: SparkSession) = s.read.format("graft-kv").option("catalog", cat)
        .option("path", dir).load().filter(col("k").between(10L, 400L) && col("v") % 3L === 0L)
        .select("v", "k")
      val plans = Seq(once, twice).map { s =>
        val df = query(s)
        var rows: Seq[String] = Nil
        assert(jobsOf { rows = df.collect().map(_.toString).toSeq } == 0)
        val plan = df.queryExecution.executedPlan
        assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] &&
          plan.toString.contains("Read: driver"), plan)
        assert(plan.clone().toString == plan.toString, "a tree copy keeps the EXPLAIN marker")
        (plan.toString.replaceAll("#\\d+", "#"), rows)
      }
      assert(plans(0) == plans(1), "installing the strategy twice changes no plan and no row")
      assert(plans(0)._2 == (10L to 400L).filter(_ * 2L % 3L == 0L).map(k => s"[${k * 2L},$k]"))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
