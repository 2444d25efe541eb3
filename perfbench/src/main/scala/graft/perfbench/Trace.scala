package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import scala.collection.mutable

/** One traced interval. Times are nanoseconds on the JVM's monotonic
  * clock; `parent` is filled in when the run's spans are assembled. */
final case class Span(id: Int, op: Long, layer: String, name: String,
                      start: Long, end: Long, var parent: Int = -1) {
  def dur: Long = end - start
}

/** Connector scan counters read from one op's executed plans. */
final case class ScanCounts(scans: Int, shardsTotal: Long, shardsPruned: Long,
                            rangesPlanned: Long, recordsRead: Long, bytesRead: Long,
                            rowsOut: Long, widestRows: Long)

/** Traced-run recorder. Spans stay in memory and are written out once the
  * run ends. Everything is observed from outside the engine: timed calls
  * made by the harness, `QueryExecution.tracker` phases, the executed
  * plan's SQL metrics, and a `SparkListener` whose jobs are attributed to
  * ops by job group. */
final class Tracer(spark: SparkSession) {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def ns(epochMs: Long): Long = (epochMs - epochMs0) * 1000000L + nano0

  val spans = mutable.ArrayBuffer.empty[Span]
  val opKinds = mutable.LinkedHashMap.empty[Long, String]
  val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val scans = mutable.Map.empty[Long, ScanCounts]
  val resultRows = mutable.Map.empty[Long, Long]
  val liveShards = mutable.ArrayBuffer.empty[Int]

  final case class Job(id: Int, op: Long, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(var submit: Long = 0, var done: Long = 0)
  final case class TaskAgg(var runMs: Long = 0, var waitMs: Long = 0, var tasks: Long = 0,
                           var shWrite: Long = 0, var shRead: Long = 0, var spill: Long = 0,
                           var gcMs: Long = 0)
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, Stage]
  val taskAgg = mutable.Map.empty[Long, TaskAgg]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = g.filter(_.startsWith("op-")).map(_.stripPrefix("op-").toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, op, ns(e.time), ns(e.time), e.stageIds)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = ns(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, Stage())
      st.submit = i.submissionTime.map(ns).getOrElse(0L)
      st.done = i.completionTime.map(ns).getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val op = stageOp.getOrElse(e.stageId, -1L)
      val a = taskAgg.getOrElseUpdate(op, TaskAgg())
      val m = e.taskMetrics
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
      stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    }
  }
  def install(): Unit = spark.sparkContext.addSparkListener(listener)

  def uninstall(): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def span[T](op: Long, layer: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(spans.length, op, layer, name, t0, t1) }
    }
  }

  /** Close an op: its root span, Catalyst phases and scan counters. */
  def opDone(op: Long, kind: String, t0: Long, t1: Long, frames: Seq[DataFrame],
             rows: Long): Unit = {
    opKinds(op) = kind
    resultRows(op) = rows
    spans += Span(spans.length, op, "bench", s"op:$kind", t0, t1)
    frames.distinct.foreach { df =>
      val qe = df.queryExecution
      qe.tracker.phases.foreach { case (phase, p) =>
        phases(phase) += p.durationMs.toDouble
        spans += Span(spans.length, op, "catalyst", phase, ns(p.startTimeMs), ns(p.endTimeMs))
      }
    }
    scans(op) = Tracer.scanCounts(frames.distinct)
  }

  /** Assemble the span forest: job and stage spans join the client spans,
    * and every span's parent is the shortest same-op span enclosing it
    * (the op's root when nothing narrower does). */
  lazy val assembled: Seq[Span] = {
    val all = mutable.ArrayBuffer.empty[Span] ++ spans
    jobs.values.toSeq.sortBy(_.id).filter(_.op >= 0).foreach { j =>
      val js = Span(all.length, j.op, "spark", s"job:${j.id}", j.start, math.max(j.end, j.start))
      all += js
      j.stages.flatMap(s => stages.get(s).map(s -> _)).filter(_._2.submit > 0).foreach {
        case (sid, st) =>
          all += Span(all.length, j.op, "spark", s"stage:$sid", st.submit,
            math.max(st.done, st.submit), parent = js.id)
      }
    }
    val byOp = all.groupBy(_.op)
    all.foreach { s =>
      if (s.parent < 0 && !s.name.startsWith("op:")) {
        val enclosing = byOp(s.op).filter(o => o.id != s.id && o.start <= s.start &&
          o.end >= s.end && o.dur >= s.dur && !(o.dur == s.dur && o.id > s.id))
        if (enclosing.nonEmpty) s.parent = enclosing.minBy(_.dur).id
      }
    }
    all.toSeq
  }

  /** Per-layer self time: each span's duration minus the part of its
    * interval its children cover, summed by layer. */
  def selfTimesMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1))
        (s.dur - covered) / 1e6
      }.sum
    }
  }

  def writeSpans(path: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try assembled.foreach { s =>
      pw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start - nano0},"end_ns":${s.end - nano0}}""")
    } finally pw.close()
  }
}

object Tracer {
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case other => other +: (other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes))
  }

  private val Pruned = Seq("kvShardsPrunedKeyRange", "kvShardsPrunedBucket",
    "kvShardsPrunedZoneMap", "kvShardsSkippedBloom")

  def scanCounts(frames: Seq[DataFrame]): ScanCounts = {
    val nodes = frames.flatMap(df =>
      try planNodes(df.queryExecution.executedPlan) catch { case _: Exception => Nil })
    def v(n: SparkPlan, k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
    val kvScans = nodes.filter(n => n.metrics.contains("kvShardsTotal") || n.metrics.contains("kvRecordsRead"))
    val widest = nodes.filter(_.children.nonEmpty).map(v(_, "numOutputRows")).foldLeft(0L)(math.max)
    ScanCounts(kvScans.length,
      kvScans.map(v(_, "kvShardsTotal")).sum,
      kvScans.map(n => Pruned.map(v(n, _)).sum).sum,
      kvScans.map(v(_, "kvKeyRangesPlanned")).sum,
      kvScans.map(v(_, "kvRecordsRead")).sum,
      kvScans.map(v(_, "kvBytesRead")).sum,
      kvScans.map(v(_, "numOutputRows")).sum,
      widest)
  }
}
