package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job decomposition of one registered query — the measurement step
  * the optimization guide (§1) asks for before touching an operator.
  * A query like the streaming drains (q132–q136) runs DOZENS of Spark
  * jobs (frontier aggregates, delta counts, sampling passes for range
  * repartition, the KV writes themselves); the headline seconds say
  * nothing about which of those to attack. This main runs one query
  * with a listener that records every job's wall-clock and call site,
  * then prints the jobs sorted by cost.
  *
  * Usage: runMain graft.JobProfile <query> [sfDir] — dev tool, not part
  * of the bench contract.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    // one untimed pass: JIT/codegen warmup plus any one-time disk-cached
    // index builds, so the profiled pass sees the steady state the bench
    // reports
    fn(spark, sfDir).queryExecution.toRdd.count()

    case class Job(id: Int, desc: String, site: String, start: Long, var end: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // stream micro-batch descriptions embed newlines (id/runId/batch
        // block) — flatten so one job stays one profile line
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("").replaceAll("\\s+", " ")
        // the result stage (highest id: parents are created first) is
        // named after the action's call site — set for every job, where
        // the `callSite.short` property only exists on stream jobs
        val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, site, e.time)): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).queryExecution.toRdd.count()
    val total = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val done = jobs.values.asScala.toSeq.sortBy(_.start)
    println(f"[profile] $name: $total%.3f s total, ${done.size} jobs")
    done.foreach { j =>
      val dur = if (j.end < 0) Double.NaN else (j.end - j.start) / 1e3
      println(f"[profile]   job ${j.id}%3d  $dur%7.3f s  ${j.site}%-40s ${j.desc.take(80)}")
    }
    val byCost = done.filter(_.end > 0).sortBy(j => -(j.end - j.start))
    println("[profile] top jobs by cost:")
    byCost.take(15).foreach { j =>
      println(f"[profile]   ${(j.end - j.start) / 1e3}%7.3f s  ${j.site}%-40s ${j.desc.take(80)}")
    }
    queries.Dedup.releaseShingles()
    queries.Curation.releaseTokenCounts()
    spark.stop()
  }
}
