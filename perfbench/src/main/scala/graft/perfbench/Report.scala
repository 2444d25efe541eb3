package graft.perfbench

import Main.{Sample, median, percentile}

/** Prints the human-readable report and, last, the one-line JSON result. */
final class Report(w: Workload, a: Main.Args) {
  private val out = System.out

  def line(s: String): Unit = out.println(s"[perfbench ${w.name} seed=${a.seed}] $s")

  def hostWindow(loop0: (Long, Long), run0: (Long, Long), cpuLoop0: Array[Long]): Unit = {
    val now = graft.util.Host.cpuJiffies()
    line(f"host sys_frac_loop=${graft.util.Host.sysPct(loop0, now)}%.4f " +
      f"sys_frac_run=${graft.util.Host.sysPct(run0, now)}%.4f " +
      f"steal_frac_loop=${Host.stealFrac(cpuLoop0, Host.cpuFields())}%.4f load_end=${Host.loadAvg()}")
  }

  private def kinds(samples: Seq[Sample]): Unit =
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val ms = ss.map(_.ms)
      line(f"kind $k n=${ss.length} p50_ms=${median(ms)}%.3f p90_ms=${percentile(ms, 90)}%.3f " +
        f"max_ms=${ms.max}%.3f failed=${ss.count(_.error.nonEmpty)}")
    }

  private def errors(samples: Seq[Sample]): Unit =
    samples.filter(_.error.nonEmpty).take(5).foreach(s => line(s"error ${s.kind}: ${s.error.get}"))

  /** `samples` are every checked op, warm-up included. */
  private def emit(samples: Seq[Sample], metrics: Seq[Metric]): Unit = {
    val failed = samples.count(_.error.nonEmpty)
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    out.println(s"""{"correct": ${failed == 0}, "attempted": ${samples.length}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    out.flush()
  }

  /** Untraced run: every end-to-end metric, workload extras in the report. */
  def endToEnd(warm: Seq[Sample], samples: Seq[Sample], setupS: Double, heapPeakMb: Double,
               extra: Seq[Metric]): Unit = {
    val ms = samples.map(_.ms)
    val reads = samples.filter(_.cls == Read).map(_.ms)
    val writes = samples.filter(_.cls == Write).map(_.ms)
    val failed = (warm ++ samples).count(_.error.nonEmpty)
    kinds(samples)
    errors(warm ++ samples)
    val tailN = samples.count(_.ms > percentile(ms, w.tailPct))
    line(f"latency_tail is p${w.tailPct}%.0f over ${samples.length} ops ($tailN beyond it)")
    val common = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", samples.length / (ms.sum / 1000.0), "ops/s"),
      Metric("latency_p50_ms", median(ms), "ms"),
      Metric("latency_tail_ms", percentile(ms, w.tailPct), "ms"),
      Metric("read_p50_ms", median(reads), "ms"),
      Metric("live_heap_peak_mb", heapPeakMb, "MB"))
    val more = (if (writes.nonEmpty) Seq(Metric("write_p50_ms", median(writes), "ms")) else Nil) ++
      extra :+ Metric("failed_frac", failed.toDouble / (warm.length + samples.length), "fraction")
    more.foreach(m => line(f"metric ${m.name}=${m.value}%.6f ${m.unit}"))
    line(s"warmup ops=${warm.length} (checked, untimed)")
    emit(warm ++ samples, common)
  }

  /** Traced run: the per-layer ledger. */
  def perLayer(warm: Seq[Sample], plain: Seq[Sample], traced: Seq[Sample], t: Tracer, kv: Seq[Metric],
               q: QueriesProbe.Result): Unit = {
    val all = t.assembled
    val n = traced.length.toDouble
    val ops = t.opKinds.keys.toSeq
    val tasks = t.taskAgg.filter(_._1 >= 0).values
    val wallMs = traced.map(_.ms).sum
    val opJobs = t.jobs.values.filter(_.op >= 0)
    val scans = ops.flatMap(t.scans.get)
    val nScans = scans.map(_.scans).sum.toDouble
    def per(x: Double, d: Double) = if (d > 0) x / d else 0.0
    val builders = all.filter(s => s.layer == "queries" && s.name == "builder")
    val builderJobs = builders.map { b =>
      opJobs.count(j => j.op == b.op && j.start >= b.start && j.start <= b.end)
    }.sum
    val self = t.selfTimesMs(all)
    val plainRate = plain.length / (plain.map(_.ms).sum / 1000.0)
    val tracedRate = traced.length / (wallMs / 1000.0)
    val stagesPerOp = opJobs.toSeq.map(_.stages.count(t.stages.contains)).sum
    val layer = Seq(
      Metric("catalyst.analysis_ms", t.phases("analysis") / n, "ms"),
      Metric("catalyst.optimization_ms", t.phases("optimization") / n, "ms"),
      Metric("catalyst.planning_ms", t.phases("planning") / n, "ms"),
      Metric("queries.builder_ms", builders.map(_.dur).sum / 1e6 / n, "ms"),
      Metric("queries.builder_jobs", builderJobs / n, "count"),
      Metric("spark.jobs_per_op", opJobs.size / n, "count"),
      Metric("spark.stages_per_op", stagesPerOp / n, "count"),
      Metric("spark.tasks_per_op", tasks.map(_.tasks).sum / n, "count"),
      Metric("spark.busy_cores", per(tasks.map(_.runMs).sum, wallMs), "cores"),
      Metric("spark.task_wait_ms", per(tasks.map(_.waitMs).sum, tasks.map(_.tasks).sum), "ms"),
      Metric("spark.shuffle_write_mb", tasks.map(_.shWrite).sum / 1e6 / n, "MB"),
      Metric("spark.shuffle_read_mb", tasks.map(_.shRead).sum / 1e6 / n, "MB"),
      Metric("spark.spill_mb", tasks.map(_.spill).sum / 1e6 / n, "MB"),
      Metric("spark.gc_ms", tasks.map(_.gcMs).sum / n, "ms"),
      Metric("sources.shards_total", per(scans.map(_.shardsTotal).sum, nScans), "count"),
      Metric("sources.shards_pruned_frac",
        per(scans.map(_.shardsPruned).sum, scans.map(_.shardsTotal).sum), "fraction"),
      Metric("sources.key_ranges_planned", per(scans.map(_.rangesPlanned).sum, nScans), "count"),
      Metric("sources.records_read", scans.map(_.recordsRead).sum / n, "count"),
      Metric("sources.bytes_read", scans.map(_.bytesRead).sum / n, "bytes"),
      Metric("sources.rows_out_per_record",
        per(scans.map(_.rowsOut).sum, scans.map(_.recordsRead).sum), "ratio")) ++
      kv ++ Seq(
      Metric("kv.live_shards", t.liveShards.sum.toDouble / math.max(1, t.liveShards.length), "count"),
      Metric("bench.tracing_overhead_frac", (plainRate - tracedRate) / plainRate, "fraction"),
      Metric("self.bench_ms", self.getOrElse("bench", 0.0) / n, "ms"),
      Metric("self.queries_ms", self.getOrElse("queries", 0.0) / n, "ms"),
      Metric("self.catalyst_ms", self.getOrElse("catalyst", 0.0) / n, "ms"),
      Metric("self.spark_ms", self.getOrElse("spark", 0.0) / n, "ms"))

    // queries layer, from the probe sequence under its own tracer
    val qt = q.tracer
    val qProbes = qt.opKinds.keys.toSeq.filter(qt.opKinds(_).endsWith("_probe"))
    val qWall = q.samples.map(_.ms).sum
    val qJobs = qt.jobs.values.count(_.op >= 0)
    val queries = Seq("ann_probe", "bm25_probe", "lsh_probe", "drain").map { k =>
      Metric(s"queries.${k}_ms", median(q.samples.filter(_.kind == k).map(_.ms)), "ms")
    } ++ Seq(
      Metric("queries.index_build_s", q.indexBuildS, "s"),
      Metric("queries.candidates_per_result", per(qProbes.flatMap(qt.scans.get).map(_.widestRows).sum,
        qProbes.map(qt.resultRows.getOrElse(_, 0L)).sum), "ratio"),
      Metric("queries.probe_jobs_per_op", qJobs.toDouble / q.samples.length, "count"),
      Metric("queries.probe_busy_cores",
        per(qt.taskAgg.filter(_._1 >= 0).values.map(_.runMs).sum, qWall), "cores"))

    // Writer and DML call timings exist only on workloads that write; they
    // go to the ledger lines, not to the fixed metric set.
    val spanMs = (name: String) => all.filter(_.name == name).map(_.dur / 1e6)
    val ledgerOnly = Seq("write", "dml").flatMap { k =>
      val xs = spanMs(k)
      if (xs.isEmpty) None else Some(Metric(s"sources.${k}_ms", median(xs), "ms"))
    } ++ self.get("sources").map(v => Metric("self.sources_ms", v / n, "ms"))
    kinds(traced)
    kinds(q.samples)
    errors(warm ++ plain ++ traced ++ q.samples)
    (layer ++ queries ++ ledgerOnly).foreach(m => line(f"layer ${m.name}=${m.value}%.6f ${m.unit}"))
    line(f"trace spans=${all.length} untraced_ops=${plain.length} traced_ops=${traced.length} " +
      s"queries_probe_ops=${q.samples.length}")
    emit(warm ++ plain ++ traced ++ q.samples, layer ++ queries)
  }
}
