package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What an operation is, for the read/write split of the latency metrics.
  * `Maint` (compaction + vacuum) counts in the all-op figures only. */
sealed trait OpClass
case object Read extends OpClass
case object Write extends OpClass
case object Maint extends OpClass

/** One closed-loop operation. `body` is the only timed part; the expected
  * answer is computed when the op is made and `check` runs after the timer
  * stops, so oracle work never counts. `commit` updates the client model
  * once the op has succeeded. */
final class Op(val kind: String, val cls: OpClass, val body: OpCtx => Any,
               val check: Any => Option[String], val commit: Any => Unit = _ => ())

/** One prepared copy of a workload's inputs, tables and indexes. */
trait Instance {
  /** The next operation; `i` is the op's position in the run. */
  def next(rnd: scala.util.Random, i: Long): Op
  /** Workload-specific end-to-end metrics, computed once the loop ends. */
  def finish(samples: Seq[Main.Sample]): Seq[Metric] = Nil
  /** A KV table of this instance: the kv-layer probes copy its manifest
    * and read its records. */
  def kvTable: String
  def kvCatalogJson: String
}

trait Workload {
  def name: String
  /** Fixed percentile reported as latency_tail_ms; chosen so at least ten
    * samples lie beyond it at the workload's op count on a 4-core host. */
  def tailPct: Double
  /** Untimed ops after set-up, so the JIT has compiled the op paths and the
    * session's lazy state exists before the first timed op; about five
    * seconds' worth on a 4-core host. Their answers are still checked. A
    * fixed count keeps the op sequence a function of the seed alone. */
  def warmupOps: Int
  /** Build inputs, tables and indexes from the seed under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Instance
}

final case class Metric(name: String, value: Double, unit: String)

/** Timing scaffolding handed to an op body: builder/call spans for the
  * traced run and the DataFrames whose plans the trace reads. */
final class OpCtx(spark: SparkSession, tracer: Option[Tracer], opId: Long) {
  private[perfbench] val frames = mutable.ArrayBuffer.empty[DataFrame]
  private[perfbench] var rows = 0L

  /** A query builder call: the time until the DataFrame is returned. */
  def build(f: => DataFrame): DataFrame = {
    val df = span("queries", "builder")(f)
    frames += df
    df
  }

  /** A call into a layer's public function. */
  def span[T](layer: String, name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) => t.span(opId, layer, name)(f)
  }

  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    frames += df
    val r = df.collect()
    rows += r.length
    r
  }

  /** A SQL statement (DML or CALL), run eagerly by `spark.sql`. */
  def sql(q: String): Array[org.apache.spark.sql.Row] = {
    val df = spark.sql(q)
    frames += df
    df.collect()
  }
}

object Main {
  val Workloads: Map[String, Workload] =
    Seq(KvServe, KvIngest, LlmPipeline).map(w => w.name -> w).toMap
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: String, digest: String, jvmFlags: String, traceOut: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("run-dir"), m.getOrElse("source-digest", ""), m.getOrElse("jvm-flags", ""),
      m.getOrElse("trace-out", ""))
  }

  def session(runDir: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation occupancy after a forced full collection, in MB: the
    * live heap, without the garbage a sample between collections sees. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  final case class Sample(kind: String, cls: OpClass, ms: Double, error: Option[String])

  /** The closed loop: one client issuing ops back to back until `seconds`
    * of wall time have passed or `maxOps` ops have run. */
  def loop(spark: SparkSession, inst: Instance, rnd: scala.util.Random, seconds: Double,
           firstId: Long, tracer: Option[Tracer], maxOps: Int = Int.MaxValue): Seq[Sample] = {
    val sc = spark.sparkContext
    val out = mutable.ArrayBuffer.empty[Sample]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var id = firstId
    while (System.nanoTime() < end && out.length < maxOps) {
      val op = inst.next(rnd, id)
      sc.setJobGroup(s"op-$id", op.kind, interruptOnCancel = false)
      val ctx = new OpCtx(spark, tracer, id)
      val t0 = System.nanoTime()
      val res: Either[Throwable, Any] =
        try Right(op.body(ctx)) catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      val err = res match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        case Right(v) =>
          try op.check(v) catch { case e: Exception => Some(s"check threw: $e".take(300)) }
      }
      if (err.isEmpty) op.commit(res.toOption.get)
      tracer.foreach { t =>
        t.opDone(id, op.kind, t0, t1, ctx.frames.toSeq, ctx.rows)
        t.liveShards += graft.kv.KvStore.readMeta(inst.kvTable).shards.length
      }
      out += Sample(op.kind, op.cls, (t1 - t0) / 1e6, err)
      id += 1
    }
    out.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parseArgs(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val jiffies0 = graft.util.Host.cpuJiffies()
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val spark = session(a.runDir)
    try run(spark, w, a, procStart, jiffies0)
    finally spark.stop()
  }

  def run(spark: SparkSession, w: Workload, a: Args, procStart: Long,
          jiffies0: (Long, Long)): Unit = {
    val sessionS = (System.currentTimeMillis() - procStart) / 1000.0
    // Set-up is repeated and its median reported; the last copy serves the
    // loop. Each copy lives in its own directory, so every table and index
    // is built from scratch every time.
    val setups = (1 to SetupRounds).map { r =>
      if (r > 1) rmrf(new File(s"${a.runDir}/setup-${r - 1}"))
      val t0 = System.nanoTime()
      val i = w.setup(spark, s"${a.runDir}/setup-$r", a.seed)
      (i, (System.nanoTime() - t0) / 1e9)
    }
    val inst = setups.last._1
    val buildS = setups.map(_._2)
    val setupS = sessionS + median(buildS)
    val heapAfterSetup = liveHeapMb()

    val rnd = new scala.util.Random(Gen.mix(a.seed, 77, 0))
    val warm = loop(spark, inst, rnd, 600.0, 10000000L, None, w.warmupOps)
    val jLoop0 = graft.util.Host.cpuJiffies()
    val cpuLoop0 = Host.cpuFields()
    val report = new Report(w, a)
    report.line(f"host nproc=${Runtime.getRuntime.availableProcessors()} " +
      s"load=${Host.loadAvg()} mem_available_mb=${Host.memAvailableMb()} " +
      s"source_digest=${a.digest} git_rev=${Host.gitRev()} jvm=${a.jvmFlags} " +
      s"java=${System.getProperty("java.version")} clients=1 " +
      s"shuffle_partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    report.line(f"setup session_s=$sessionS%.3f " +
      s"build_s=${buildS.map(b => f"$b%.3f").mkString("[", ",", "]")}")

    if (!a.trace) {
      val samples = loop(spark, inst, rnd, a.seconds, 0, None)
      val heapPeak = math.max(heapAfterSetup, liveHeapMb())
      val extra = inst.finish(samples)
      report.hostWindow(jLoop0, jiffies0, cpuLoop0)
      report.endToEnd(warm, samples, setupS, heapPeak, extra)
    } else {
      // Traced run: the first half runs untraced and gives the baseline
      // throughput for the overhead figure; the second half is traced and
      // gives every per-layer number.
      val half = a.seconds / 2.0
      val plain = loop(spark, inst, rnd, half, 0, None)
      val tracer = new Tracer(spark)
      tracer.install()
      val traced = loop(spark, inst, rnd, half, 1000000L, Some(tracer))
      tracer.uninstall()
      val kv = KvProbe.run(inst, a.runDir, tracer)
      val q = QueriesProbe.run(spark, a.runDir, a.seed)
      report.hostWindow(jLoop0, jiffies0, cpuLoop0)
      report.perLayer(warm, plain, traced, tracer, kv, q)
      if (a.traceOut.nonEmpty) {
        tracer.writeSpans(s"${a.traceOut}/${w.name}-s${a.seed}.jsonl")
        q.tracer.writeSpans(s"${a.traceOut}/${w.name}-s${a.seed}-queries.jsonl")
      }
    }
  }
}

object Host {
  /** Aggregate cpu line of /proc/stat: user … steal jiffies (empty off Linux). */
  def cpuFields(): Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1)
      .take(8).map(_.toLong)
    catch { case _: Exception => Array.empty[Long] }

  /** Share of CPU time the hypervisor gave to other guests between samples. */
  def stealFrac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = a.indices.map(i => b(i) - a(i))
      if (d.sum > 0) d(7).toDouble / d.sum else 0.0
    }

  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(",")
    catch { case _: Exception => "?" }

  def memAvailableMb(): Long =
    try scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemAvailable")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** HEAD of the enclosing git checkout, or "none" outside one. */
  def gitRev(): String =
    try {
      val head = new File(".git/HEAD")
      if (!head.exists()) "none"
      else {
        val h = scala.io.Source.fromFile(head).mkString.trim
        if (!h.startsWith("ref: ")) h.take(12)
        else {
          val ref = new File(".git/" + h.stripPrefix("ref: "))
          if (ref.exists()) scala.io.Source.fromFile(ref).mkString.trim.take(12) else "unborn"
        }
      }
    } catch { case _: Exception => "none" }
}
