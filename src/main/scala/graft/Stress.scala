package graft

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Dirs.rmrf

/** One-off 10× scale probe (the "sf1" datapoint in ARCHITECTURE.md).
  *
  * The driver ships corpora up to sf0.1 only, so this main synthesizes a
  * 10× replica of sf0.1 under /tmp and re-runs the heaviest green
  * pipelines against it, printing per-query wall times + peak heap. The
  * replica is built to keep workload SHAPE honest, not just volume:
  *
  *  - documents: 10 salted copies. Every 5th token is replaced with a
  *    copy-specific token, so within-copy near-dup structure is
  *    preserved exactly while cross-copy Jaccard lands ≈ 0.66 — under
  *    the 0.8 threshold. Pair/cluster counts therefore scale ~linearly
  *    (10×), the way a real corpus grows; verbatim copies would instead
  *    make every doc a 10-way duplicate and blow pairs up
  *    quadratically.
  *  - embeddings: 10 copies with the first component nudged by a
  *    copy-specific epsilon (distinct vectors, same geometry).
  *  - lineitem/orders: 10 copies with key offsets (disjoint key ranges).
  *
  * Usage: runMain graft.Stress [copies] [heavy|<section>] — builds
  * the replica under /tmp/graft-stress-x<copies> (SPARK_GRAFT_STRESS_DIR
  * overrides), then runs the default campaign, the reduced `heavy`
  * campaign, or exactly one standalone section of `sections` below,
  * and prints one JSON line. Campaign probe queries run twice or more
  * (first = includes any one-time KV ingest / compaction; min = steady
  * state). `tools/merge_stress.py` merges campaign passes into a tier
  * artifact, and `--section <name>` folds a section's passes into one.
  */
object Stress {

  private val probes = Seq(
    "q42_ngram_jaccard", "q45_dedup_clusters", // sub-quadratic dedup + CC
    "q52_lsh_ann", "q53_ivf_ann",              // banded / inverted-file ANN
    "q80_training_pipeline",                   // chained dedup→quality→budget
    "q87_repetition_quality",                  // zero-shuffle per-row quality folds
    "q88_decontamination",                     // broadcast 4-gram semi-join
    "q89_vocab_oov",                           // top-K vocab + broadcast scoring
    "q90_attribution_join",                    // event-time interval join
    "q91_quality_cutoff",                      // per-stratum rank window (stratum-bounded)
    "q92_doc_chunks",                          // context-window chunk explode
    "q70_kv_scan_filter", "q71_kv_rowkey_range", // KV pushdown scans
    "q72_kv_canonical", "q81_kv_compacted",      // + maintenance loop
    "q82_kv_streamed")                           // + multi-epoch streaming ingest

  /** The 100× tier runs only the expensive dedup/ANN family (the
    * queries whose scaling actually decides the 100 TB story) — the
    * cheap KV/curation probes are ~linear by construction and already
    * measured to 30×; re-running them at 100× would triple the tier's
    * wall-clock for no new signal. q103/q114 (flat and hierarchical
    * semantic dedup) ride the dedicated recall-checked sections below,
    * not this list. */
  private val heavyProbes = Seq(
    "q42_ngram_jaccard", "q45_dedup_clusters",
    "q111_substring_dedup", "q112_bigram_lm",
    "q53_ivf_ann")

  /** Every table generate() replicates, in order. The list is written
    * into the replica's _done sentinel and compared on startup, so
    * adding a table here automatically invalidates older replicas. */
  private val replicaTables =
    Seq("documents", "embeddings", "lineitem", "orders", "events")

  /** One named part of a pass: the top-level JSON keys its fragment
    * writes, the metric tag of the line it prints when run alone
    * (`Stress <copies> <name>`; None: it runs only inside a campaign),
    * and whether the default (`full`) and the reduced 100× (`heavy`)
    * campaigns include it. A section added after a tier campaign froze
    * runs alone, so its passes never invalidate the committed
    * same-revision campaign passes. */
  private final case class Section(name: String, keys: Seq[String],
                                   metric: Option[String], full: Boolean,
                                   heavy: Boolean, run: Pass => String)

  /** Every section, in the order a campaign runs them. The heavy
    * campaign is the heavy-family timings (one steady repeat each: the
    * probes run minutes at 100×), q45's per-round frontier collapse and
    * the recall-checked index sections — everything the 100 TB
    * extrapolation rests on, none of the A/B sections. */
  private val sections: Seq[Section] = Seq(
    Section("queries", Seq("queries", "q45_frontier_sizes", "q45_escalated"),
      None, full = true, heavy = true, _.probeQueries()),
    Section("semantic_dedup", Seq("semantic_dedup", "semantic_dedup_hier"),
      None, full = true, heavy = true, _.semanticDedup()),
    Section("ivf_split", Seq("ivf_split"),
      None, full = true, heavy = true, _.ivfSplit()),
    Section("ivf_persist", Seq("ivf_persist"),
      None, full = true, heavy = true, _.ivfPersist()),
    Section("ivf_incremental", Seq("ivf_incremental"),
      None, full = true, heavy = true, _.ivfIncremental()),
    Section("dml", Seq("ivf_dml_patch"),
      Some("stress_dml"), full = true, heavy = true, _.ivfDmlPatch()),
    Section("cdc_catchup", Seq("cdc_catchup"),
      None, full = true, heavy = true, _.cdcCatchup()),
    Section("ss_join", Seq("ss_join"),
      None, full = true, heavy = true, _.ssJoin()),
    Section("near_dup_pairs", Seq("near_dup_pairs"),
      None, full = true, heavy = false, _.nearDupPairs()),
    Section("packing_ab", Seq("packing_ab"),
      None, full = true, heavy = false, _.packingAb()),
    Section("kv_columnar_ab", Seq("kv_columnar_ab"),
      None, full = true, heavy = false, _.columnarAb()),
    Section("spj_ab", Seq("spj_ab", "point_lookup_ab"),
      None, full = true, heavy = false, _.spjAb()),
    Section("pq", Seq("ivf_pq"),
      Some("stress_pq"), full = false, heavy = false, _.ivfPq()),
    Section("store", Seq("bm25_store", "lsh_store"),
      Some("stress_store"), full = false, heavy = false, _.stores()),
    Section("q111", Seq("q111_substring_dedup"),
      Some("stress_q111"), full = false, heavy = false, _.q111()),
    Section("stream", Seq("bm25_stream", "ivf_stream"),
      Some("stress_stream"), full = false, heavy = false, _.streaming()),
    Section("compact", Seq("batches", "docs", "prod", "control", "match"),
      Some("stress_compact"), full = false, heavy = false, _.compaction()),
    Section("probe", Seq("ivf_probe_all", "bm25_probe_all", "lsh_probe_batch", "ivf_cell_skew",
      "bm25_probe_after_append", "bm25_token_skew"),
      Some("stress_probe"), full = false, heavy = false, _.batchedProbes()),
    Section("champ", Seq("bm25_probe_after_append"),
      Some("stress_champ"), full = false, heavy = false, _.champ()))

  def main(args: Array[String]): Unit = {
    // the artifact JSON is built with f"...%.2f" interpolation — pin the
    // locale so a comma-decimal default can't emit invalid JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val mode = args.drop(1).headOption
    val heavy = mode.contains("heavy")
    val chosen = mode match {
      case None => sections.filter(_.full)
      case Some("heavy") => sections.filter(_.heavy)
      case Some(name) => sections.filter(s => s.name == name && s.metric.isDefined)
    }
    require(chosen.nonEmpty, "usage: graft.Stress <copies> [heavy|" +
      sections.filter(_.metric.isDefined).map(_.name).mkString("|") + "]")
    // a campaign prints one "stress" line; a lone section its own tag
    val metric = if (mode.isEmpty || heavy) "stress" else chosen.head.metric.get
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the copies count is part of the replica path: a rerun with a
    // different scale can never silently reuse the old replica, and the
    // KV table caches (keyed by corpus path) roll over with it
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR", s"/tmp/graft-stress-x$copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // partition count scales with DATA, thread count with the box: on a
    // cluster you size spark.sql.shuffle.partitions to the shuffle
    // volume and let AQE coalesce — pinning it to the core count is
    // only right near the 1× tier. Default keeps historical tiers
    // comparable (32 at every committed 1×/10×/30× artifact); the env
    // override is recorded in the output JSON so no tier can silently
    // mix sizings.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // _done records WHICH tables the replica holds — a replica generated
    // by an older build (fewer tables) regenerates instead of letting a
    // new probe read a missing path or silently stale data
    val doneFile = new File(s"$out/_done")
    val haveTables =
      if (doneFile.exists())
        new String(java.nio.file.Files.readAllBytes(doneFile.toPath)).trim
      else ""
    if (haveTables != replicaTables.mkString(",")) {
      System.err.println(s"[stress] generating ${copies}x replica of $base -> $out")
      generate(spark, base, out, copies)
    }

    // Code revision per pass: tools/merge_stress.py refuses to merge
    // passes from different code versions (the r12 artifact mixed
    // pre- and post-pairs-cache passes and its per-field min silently
    // compared different engines).
    val revision =
      try scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"),
        new File(".")).!!.trim
      catch { case _: Exception => "unknown" }

    val pass = new Pass(spark, out, base, copies, heavy, shuffleParts)
    val bodies = chosen.map { s =>
      val body = s.run(pass)
      require(s.keys.forall(k => body.contains(s""""$k":""")),
        s"section ${s.name} must write ${s.keys.mkString(", ")}")
      body
    }
    val modeJson = if (heavy) ""","mode":"heavy"""" else ""
    println(s"""{"metric":"$metric"$modeJson,"copies":$copies,"base":"$base","revision":"$revision","shuffle_partitions":$shuffleParts,${bodies.mkString(",")},"peak_heap_mb":${pass.peakHeapMb},"host":${pass.hostJson()}}""")
    spark.stop()
  }

  /** What every section of one pass shares: the session, the replica,
    * the heap high-water mark, the host snapshot and the IVF sections'
    * query set with its exact ground truth. */
  private final class Pass(val spark: SparkSession, val out: String,
                           val base: String, val copies: Int,
                           val heavy: Boolean, val shuffleParts: String) {

    // sampled max of actual heap occupancy (per-pool peak SUMS overstate:
    // eden and old-gen peak at different times, so their sum can exceed
    // any heap state that ever existed)
    var peakHeapMb = 0L
    // host snapshot for artifact adjudication: this VM suffers kernel
    // storms (sys% > 90 across all cores) that inflate any
    // shuffle-heavy timing 5-15x at random — a pass that ran under
    // load/storm pressure should say so in its own JSON. r19: the
    // snapshot includes the WHOLE-PASS system-mode fraction (jiffies
    // delta since harness start), so a committed artifact discloses
    // whether any part of its run overlapped a storm.
    val passJiffies0 = graft.util.Host.cpuJiffies()
    def hostJson(): String = {
      val availGb =
        try scala.io.Source.fromFile("/proc/meminfo").getLines()
          .collectFirst { case l if l.startsWith("MemAvailable:") =>
            l.split("\\s+")(1).toLong / 1048576.0 }.getOrElse(-1.0)
        catch { case _: Exception => -1.0 }
      val load1 =
        try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
          .split(" ").head
        catch { case _: Exception => "-1" }
      val sysPct = graft.util.Host.sysPct(passJiffies0, graft.util.Host.cpuJiffies())
      f"""{"avail_gb":$availGb%.1f,"load1":$load1,"sys_pct":$sysPct%.3f}"""
    }
    def sampleHeap(): Unit = {
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1 << 20)
      if (used > peakHeapMb) peakHeapMb = used
    }
    lazy val qEmbIvf = Tables.embeddings(spark, out).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // recall vs EXACT ground truth at this tier: the query set is
    // bounded (20 vectors), so brute force is one linear broadcast
    // scan — affordable even at 100×. This pins the adaptive index's
    // quality at scale, not just at the 500-vector gate; epsilon-twin
    // replicas make the true top-5 dominated by near-identical twins,
    // which a sound cell assignment must co-locate with the query.
    def top5Ivf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    lazy val exactTop5: Set[(Long, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val wx = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      top5Ivf(Tables.embeddings(spark, out)
        .join(broadcast(qEmbIvf), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          expr("cosine_sim(q_emb, embedding)").as("cos"))
        .withColumn("rk", row_number().over(wx)).filter(col("rk") <= 5))
    }
    def recallOf(got: Set[(Long, Long)]): Double =
      if (exactTop5.isEmpty) 1.0
      else got.intersect(exactTop5).size.toDouble / exactTop5.size

    // the campaign's probe queries, each timed first (one-time costs
    // included) and steady (min of two; one repeat in the heavy campaign)
    def probeQueries(): String = {
      var q45Frontiers: Seq[Long] = Nil
      var q45Escalated = false
      val results = (if (heavy) heavyProbes else probes).map { name =>
        val fn = SparkEntry.queries(name)
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, out).queryExecution.toRdd.count()
          sampleHeap()
          (System.nanoTime() - t0) / 1e9
        }
        val first = once() // includes one-time KV ingest / compact / persist
        val steady = if (heavy) once() else math.min(once(), once())
        System.err.println(f"[stress] $name first=$first%.1fs steady=$steady%.1fs")
        if (name == "q45_dedup_clusters") {
          // the STEADY run's rounds — lastFrontierSizes holds the most
          // recent propagation loop (q45 rides labelAuto: if it ever
          // ESCALATED to star contraction, the log is the truncated
          // pre-escalation frontier, so the artifact must say so)
          q45Frontiers = operators.ConnectedComponents.lastFrontierSizes
          q45Escalated = operators.ConnectedComponents.lastEscalated
          System.err.println(s"[stress] q45 frontier sizes per round: ${q45Frontiers.mkString(", ")}")
          // the shingle relation serves only the dedup probes — release it
          // before the ANN/KV probes so their timings and the heap metric
          // don't carry dedup cache pressure
          queries.Dedup.releaseShingles()
        }
        name -> (first, steady)
      }
      queries.Dedup.releaseShingles()
      val qs = results.map { case (k, (fst, std)) =>
        f""""$k":{"first_sec":$fst%.2f,"steady_sec":$std%.2f}"""
      }.mkString("{", ",", "}")
      val frontier = q45Frontiers.mkString("[", ",", "]")
      s""""queries":$qs,"q45_frontier_sizes":$frontier,"q45_escalated":$q45Escalated"""
    }

    // SemDeDup at scale — BOTH formulations, recall-checked against the
    // replica's ground truth: q103 (flat quantizer, k ≈ √n balancing
    // its two Θ(n^1.5) terms) and q114 (two-level router + bounded
    // ~256-vector cells: linear dedup join, Θ(n^1.25) assignment). The
    // epsilon-twin replicas give real ground truth: copy i>0 of base
    // vector v has a SMALLER-id twin (copy 0, vec_id = v) at cosine ≈ 1
    // ≫ τ=0.35, so every higher-copy vector must come back is_dup=true
    // unless its twin pair straddles a cell boundary (rare for the flat
    // quantizer; the bounded-cell variant trades a little more boundary
    // exposure for its linear join — this probe MEASURES that trade).
    def semSection(key: String, qname: String, minRecall: Double,
                   anchor: Boolean = false): String = {
      // anchor=true: the query is a fenced exactness anchor (refuses
      // above graft.exactAnchorMaxRows); the harness opts in EXPLICITLY
      // because measuring the anchor's scaling against its production
      // twin is the point of the tier table — the flag and the opt-in
      // are recorded in the artifact so nobody reads the anchor row as
      // the production path
      if (anchor) spark.conf.set("graft.allowExactAnchors", "true")
      // try/finally: a thrown recall assert must not leak the anchor
      // opt-in into every later section of the pass (it would weaken
      // the q103 fence for anything else this session runs)
      try {
      val semFn = SparkEntry.queries(qname)
      def semOnce(): (Double, DataFrame) = {
        val t0 = System.nanoTime()
        val df = semFn(spark, out)
        df.queryExecution.toRdd.count()
        sampleHeap()
        ((System.nanoTime() - t0) / 1e9, df)
      }
      val (semFirst, _) = semOnce()
      val (semSteady, semDf0) = semOnce()
      val semDf = semDf0.persist()
      val semRows = semDf.count()
      val semJson = if (copies > 1) {
        val hi = semDf.filter(col("vec_id") >= 1000000L)
        val hiN = hi.count()
        val hiDup = hi.filter(col("is_dup")).count()
        val twinRecall = hiDup.toDouble / hiN
        System.err.println(f"[stress] $key twin_dup_recall=$twinRecall%.4f ($hiDup of $hiN higher-copy vectors marked dup)")
        require(twinRecall >= minRecall,
          f"$key twin-dup recall $twinRecall%.4f < $minRecall against replica ground truth")
        f""","twin_dup_recall":$twinRecall%.4f,"higher_copy_n":$hiN,"higher_copy_dup":$hiDup"""
      } else ""
      semDf.unpersist(blocking = true)
      val anchorJson = if (anchor) ""","anchor":true""" else ""
      System.err.println(f"[stress] $key first=$semFirst%.1fs steady=$semSteady%.1fs rows=$semRows")
      f""""$key":{"first_sec":$semFirst%.2f,"steady_sec":$semSteady%.2f,"rows":$semRows$semJson$anchorJson}"""
      } finally if (anchor) spark.conf.unset("graft.allowExactAnchors")
    }
    def semanticDedup(): String =
      semSection("semantic_dedup", "q103_semantic_dedup", 0.9, anchor = true) + "," +
      semSection("semantic_dedup_hier", "q114_semantic_dedup_hier", 0.85)

    // IVF build/probe split — the claim the adaptive quantizer makes is
    // ASYMMETRIC: index build grows Θ(n^1.25) (coarse routing), while a
    // query's probe cost is nProbe · ~256 rescores REGARDLESS of corpus
    // size. The q53 row above times the fused pipeline (build + probe);
    // this section persists the index once and times probes alone, so
    // the tiers show probe_sec flat while build_sec grows.
    def ivfSplit(): String = {
      val t0 = System.nanoTime()
      val idx0 = queries.Similarity.ivfIndex(spark, out)
      val idx = idx0.copy(centRouted = idx0.centRouted.persist(),
        assigned = idx0.assigned.persist())
      val nlist = idx.centRouted.count()
      val nVecs = idx.assigned.count()
      sampleHeap()
      val buildSec = (System.nanoTime() - t0) / 1e9
      // production probe width: flat cost by construction, widened at
      // the nlist floor so tiny-corpus coverage doesn't collapse —
      // which is what lets the recall assert run at EVERY tier (the old
      // fixed nProbe=4 measured 0.38 at 1× and gated the assert off
      // exactly there)
      val nP = queries.Similarity.adaptiveNProbe(nlist, nVecs)
      def probeOnce(): Double = {
        val t = System.nanoTime()
        queries.Similarity.ivfProbe(spark, idx, qEmbIvf, nProbe = nP)
          .queryExecution.toRdd.count()
        sampleHeap()
        (System.nanoTime() - t) / 1e9
      }
      val pFirst = probeOnce()
      // sub-second probes get the same deeper repeat floor Bench gives
      // sub-second queries: min-of-2 caught multi-second JIT warm-in
      // outliers at the 30× tier (1.8–3.8 s converging to ~0.6 over six
      // repeats) and misread them as scale effects
      val pSteady = Seq.fill(4)(probeOnce()).min
      val recall = recallOf(top5Ivf(
        queries.Similarity.ivfProbe(spark, idx, qEmbIvf, nProbe = nP)))
      sampleHeap()
      require(recall >= 0.6,
        f"IVF recall@5 $recall%.4f < 0.6 vs exact ground truth at ${copies}x")
      idx.assigned.unpersist(blocking = true)
      idx.centRouted.unpersist(blocking = true)
      System.err.println(f"[stress] ivf_split nlist=$nlist nProbe=$nP build=$buildSec%.1fs " +
        f"probe_first=$pFirst%.2fs probe=$pSteady%.2fs recall@5=$recall%.4f")
      f""""ivf_split":{"nlist":$nlist,"vectors":$nVecs,"n_probe":$nP,"build_sec":$buildSec%.2f,"probe_first_sec":$pFirst%.2f,"probe_sec":$pSteady%.2f,"recall_at5":$recall%.4f}"""
    }

    // Persisted-index probe: the ivf_split section above amortizes the
    // build inside ONE session via .persist(); this section pays the
    // build into graft-kv tables ONCE (cached across passes — `built`
    // says whether this pass paid it) and then times what a FRESH
    // session actually runs: IvfStore.load (meta + fingerprint stat +
    // two KV scans, no corpus scan) plus the probe. The 100 TB claim is
    // cold_probe ≈ steady probe — the index outlives its builder.
    def ivfPersist(): String = {
      // the REAL index path, not a re-derivation of IvfStore's keying —
      // a cache-key change there must break loudly here, not silently
      // corrupt built-detection
      val metaF = queries.IvfStore.metaFile(queries.IvfStore.indexRoot(out))
      val wasBuilt = !metaF.exists()
      val tb = System.nanoTime()
      if (wasBuilt) queries.IvfStore.build(spark, out)
      val buildSec = if (wasBuilt) (System.nanoTime() - tb) / 1e9 else 0.0
      def coldProbeOnce(): (Double, Set[(Long, Long)]) = {
        val t = System.nanoTime()
        val idx = queries.IvfStore.load(spark, out) // cold: plans from disk
        // n comes from the loaded meta — the measured cold probe must
        // not smuggle in a per-repeat corpus scan for a number the
        // index already persisted
        val nP = queries.Similarity.adaptiveNProbe(idx.nlist, idx.nVectors)
        val df = queries.Similarity.ivfProbe(spark, idx, qEmbIvf, nProbe = nP)
        df.queryExecution.toRdd.count()
        sampleHeap()
        ((System.nanoTime() - t) / 1e9, top5Ivf(df))
      }
      val (cFirst, got) = coldProbeOnce()
      val cSteady = Seq.fill(4)(coldProbeOnce()._1).min
      val recall = recallOf(got)
      require(recall >= 0.6,
        f"persisted-IVF recall@5 $recall%.4f < 0.6 at ${copies}x")
      System.err.println(f"[stress] ivf_persist built=$wasBuilt build=$buildSec%.1fs " +
        f"cold_probe_first=$cFirst%.2fs cold_probe=$cSteady%.2fs recall@5=$recall%.4f")
      f""""ivf_persist":{"built":$wasBuilt,"build_sec":$buildSec%.2f,"cold_probe_first_sec":$cFirst%.2f,"cold_probe_sec":$cSteady%.2f,"recall_at5":$recall%.4f}"""
    }

    // Append-incremental index maintenance at scale — the cost claim
    // this section measures: extending a persisted index with a FIXED
    // delta must cost roughly the same whatever the corpus size (the
    // assignment is Θ(delta·(c + k/c)), so the only corpus dependence
    // is the √k routing fan-out), while the full build it replaces
    // grows as Θ(n^1.25). Each pass restages from scratch — the update
    // is a one-shot state transition; replaying a cached one would
    // measure nothing — building on corpus-minus-delta, appending the
    // delta as new parquet files, and timing the ensure() that
    // classifies + frozen-assigns + append-commits it. The updated
    // index covers the FULL replica corpus, so the same exact ground
    // truth asserts recall.
    def ivfIncremental(): String = {
      val root = s"$out/_kv_ivfinc"
      val corpus = s"$root/corpus"
      rmrf(new File(root))
      rmrf(new File(graft.queries.IvfStore.indexRoot(corpus)))
      val emb = Tables.embeddings(spark, out)
      val n = emb.count()
      // fixed absolute delta (1 024 rows) at every tier that can carry
      // it; the 1x corpus (2 000 vectors) gets n/10 — disclosed floor
      val deltaRows = math.min(1024L, n / 10)
      val thr = emb.select(col("vec_id")).orderBy(col("vec_id"))
        .limit((n - deltaRows).toInt).agg(max(col("vec_id"))).head().getLong(0)
      val tb = System.nanoTime()
      emb.filter(col("vec_id") <= thr).repartition(8)
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      queries.IvfStore.build(spark, corpus)
      val incBuildSec = (System.nanoTime() - tb) / 1e9
      emb.filter(col("vec_id") > thr).coalesce(1)
        .write.mode("append").parquet(s"$corpus/embeddings.parquet")
      val tu = System.nanoTime()
      val idxU = queries.IvfStore.ensure(spark, corpus) // the incremental update
      val updateSec = (System.nanoTime() - tu) / 1e9
      sampleHeap()
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(queries.IvfStore.metaFile(queries.IvfStore.indexRoot(corpus)))
      require(m.path("appendedRows").asLong() == deltaRows,
        s"incremental update did not run (appendedRows=" +
          s"${m.path("appendedRows").asLong()}, wanted $deltaRows)")
      val nP = queries.Similarity.adaptiveNProbe(idxU.nlist, idxU.nVectors)
      def probeOnceInc(): (Double, Set[(Long, Long)]) = {
        val t = System.nanoTime()
        val df = queries.Similarity.ivfProbe(spark,
          queries.IvfStore.load(spark, corpus), qEmbIvf, nProbe = nP)
        df.queryExecution.toRdd.count()
        sampleHeap()
        ((System.nanoTime() - t) / 1e9, top5Ivf(df))
      }
      val (pFirstI, gotI) = probeOnceInc()
      val pSteadyI = Seq.fill(2)(probeOnceInc()._1).min
      val recallI = recallOf(gotI)
      require(recallI >= 0.6,
        f"incremental-IVF recall@5 $recallI%.4f < 0.6 at ${copies}x")
      System.err.println(f"[stress] ivf_incremental n=$n delta=$deltaRows " +
        f"build=$incBuildSec%.1fs update=$updateSec%.2fs probe=$pSteadyI%.2fs " +
        f"recall@5=$recallI%.4f")
      f""""ivf_incremental":{"vectors":$n,"delta_rows":$deltaRows,"nlist":${idxU.nlist},"build_sec":$incBuildSec%.2f,"update_sec":$updateSec%.2f,"probe_first_sec":$pFirstI%.2f,"probe_sec":$pSteadyI%.2f,"recall_at5":$recallI%.4f}"""
    }

    // DML-incremental index maintenance at scale — the cost claim this
    // section measures: patching a persisted index through a rewrite
    // window must cost ∝ the TOUCHED REGION, not the corpus. The
    // corpus is committed as a versioned graft-kv table with BOUNDED
    // shard sizes (~8k rows — on a real table chunkBytes bounds shard
    // bytes the same way), so a fixed-size DML region touches a fixed
    // number of shards at every tier; the patch re-assigns only that
    // region against the frozen centroids and range-replaces it into
    // the assigned table, while the build it avoids grows with n.
    // Mirrors q118's shape: one replaceKeyRanges rewrite deleting
    // vec_id%7=3 and scaling %7=5 by 2 inside a ~1 024-row key range
    // (cosine is scale-invariant, so the exact ground truth still
    // asserts recall; the handful of deleted truth rows are disclosed
    // by region_rows/vectors).
    def ivfDmlPatch(): String = {
      val root = s"$out/_kv_ivfdml"
      val corpus = s"$root/corpus"
      rmrf(new File(root))
      rmrf(new File(graft.queries.IvfKvStore.indexRoot(corpus)))
      val emb = Tables.embeddings(spark, out)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val regionRows = math.min(1024L, n / 10)
      // bounded shards: partitions sized so a shard holds ~8k rows
      val parts = math.max(8L, n / 8192L).toInt
      val tb = System.nanoTime()
      emb.repartitionByRange(parts, col("vec_id"))
        .write.format("graft-kv")
        .option("catalog", graft.queries.IvfKvStore.corpusCatalog)
        .option("path", corpus).mode("append").save()
      graft.queries.IvfKvStore.build(spark, corpus)
      val dmlBuildSec = (System.nanoTime() - tb) / 1e9
      // fixed-size mid-corpus key range [thLo+1, thHi]
      val thLo = queries.IvfStore.vecIdAt(emb, n / 2)
      val thHi = queries.IvfStore.vecIdAt(emb, n / 2 + regionRows)
      val survivors = emb
        .filter(col("vec_id") > thLo && col("vec_id") <= thHi &&
          col("vec_id") % 7 =!= 3)
        .withColumn("embedding",
          when(col("vec_id") % 7 === 5,
            org.apache.spark.sql.functions.transform(
              col("embedding"), x => x * lit(2.0f)))
            .otherwise(col("embedding")))
      survivors.coalesce(1)
        .write.format("graft-kv")
        .option("catalog", graft.queries.IvfKvStore.corpusCatalog)
        .option("path", corpus)
        .option("replaceKeyRanges",
          graft.sources.KeyRanges.serializeTyped(
            org.apache.spark.sql.types.LongType, Seq((thLo + 1, thHi))))
        .mode("overwrite").save()
      val tp = System.nanoTime()
      val idxD = graft.queries.IvfKvStore.ensure(spark, corpus) // the DML patch
      val patchSec = (System.nanoTime() - tp) / 1e9
      sampleHeap()
      val mD = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new File(
          s"${graft.queries.IvfKvStore.indexRoot(corpus)}/_ivfmeta.json"))
      val changed = mD.path("appendedRows").asLong()
      require(changed > 0 && changed < regionRows,
        s"DML patch did not run exactly (drift rows=$changed, region=$regionRows)")
      require(idxD.nVectors < n, "deleted rows must leave the index")
      val nPD = queries.Similarity.adaptiveNProbe(idxD.nlist, idxD.nVectors)
      def probeOnceDml(): (Double, Set[(Long, Long)]) = {
        val t = System.nanoTime()
        val df = queries.Similarity.ivfProbe(spark,
          graft.queries.IvfKvStore.load(spark, corpus), qEmbIvf, nProbe = nPD)
        df.queryExecution.toRdd.count()
        sampleHeap()
        ((System.nanoTime() - t) / 1e9, top5Ivf(df))
      }
      val (pFirstD, gotD) = probeOnceDml()
      val pSteadyD = Seq.fill(2)(probeOnceDml()._1).min
      val recallD = recallOf(gotD)
      require(recallD >= 0.6,
        f"DML-patched-IVF recall@5 $recallD%.4f < 0.6 at ${copies}x")
      System.err.println(f"[stress] ivf_dml_patch n=$n region=$regionRows " +
        f"changed=$changed build=$dmlBuildSec%.1fs patch=$patchSec%.2fs " +
        f"probe=$pSteadyD%.2fs recall@5=$recallD%.4f")
      f""""ivf_dml_patch":{"vectors":$n,"region_rows":$regionRows,"changed_rows":$changed,"nlist":${idxD.nlist},"build_sec":$dmlBuildSec%.2f,"patch_sec":$patchSec%.2f,"probe_first_sec":$pFirstD%.2f,"probe_sec":$pSteadyD%.2f,"recall_at5":$recallD%.4f}"""
    }

    // IVF-PQ at scale (r16, the `pq` section) — what the q122 composition
    // must prove at tier scale: (a) the PQ encode (codebook sample +
    // per-subspace argmin + reconstruction) grows ~linearly with the
    // corpus like the IVF build it sits beside — both are build-time
    // costs; (b) the probe stays FLAT across tiers (bounded cells ×
    // fixed R cut — same argument as ivf_split's probe, but the
    // candidate scan is ADC over code reconstructions, floats read
    // only by the ≤R re-rank); (c) recall vs the exact ground truth
    // holds at every tier — the ε-twin replicas quantize to the SAME
    // codewords as their source (the ±0.001·i dim-0 nudge is far
    // inside a cell), so a sound encode must keep them findable.
    def ivfPq(): String = {
      val raw = Tables.embeddings(spark, out)
      val dblPq = raw.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      val tI = System.nanoTime()
      val idx0 = queries.Similarity.ivfIndexFrom(spark, raw)
      val idxP = idx0.copy(centRouted = idx0.centRouted.persist(),
        assigned = idx0.assigned.persist())
      val nlist = idxP.centRouted.count()
      val nVecs = idxP.assigned.count()
      val ivfBuildSec = (System.nanoTime() - tI) / 1e9
      val tE = System.nanoTime()
      val cbP = queries.Similarity.pqCodebook(spark, raw).persist()
      cbP.count()
      val reconP = queries.Similarity
        .pqRecon(queries.Similarity.pqEncode(dblPq, cbP), cbP).persist()
      val nRecon = reconP.count()
      sampleHeap()
      val encodeSec = (System.nanoTime() - tE) / 1e9
      require(nRecon == nVecs, s"recon rows $nRecon != corpus $nVecs")
      val nP = queries.Similarity.adaptiveNProbe(nlist, nVecs)
      def probeOnce(): Double = {
        val t = System.nanoTime()
        queries.Similarity.ivfPqProbe(spark, idxP, reconP, raw, qEmbIvf, nP)
          .queryExecution.toRdd.count()
        sampleHeap()
        (System.nanoTime() - t) / 1e9
      }
      val pFirst = probeOnce()
      val pSteady = Seq.fill(4)(probeOnce()).min
      val recall = recallOf(top5Ivf(
        queries.Similarity.ivfPqProbe(spark, idxP, reconP, raw, qEmbIvf, nP)))
      sampleHeap()
      // ε-twin tiers (copies ≥ 10) must stay near-exact; the 1× tier's
      // corpus is near-orthogonal random noise where ADC's top-R cut
      // legitimately costs recall (recorded, floor-asserted lower)
      val floor = if (copies >= 10) 0.6 else 0.2
      require(recall >= floor,
        f"IVF-PQ recall@5 $recall%.4f < $floor%.1f at ${copies}x")
      reconP.unpersist(blocking = true)
      cbP.unpersist(blocking = true)
      idxP.assigned.unpersist(blocking = true)
      idxP.centRouted.unpersist(blocking = true)
      System.err.println(f"[stress] ivf_pq n=$nVecs nlist=$nlist nProbe=$nP " +
        f"ivf_build=$ivfBuildSec%.1fs encode=$encodeSec%.1fs " +
        f"probe_first=$pFirst%.2fs probe=$pSteady%.2fs recall@5=$recall%.4f")
      f""""ivf_pq":{"vectors":$nVecs,"nlist":$nlist,"n_probe":$nP,"ivf_build_sec":$ivfBuildSec%.2f,"encode_sec":$encodeSec%.2f,"probe_first_sec":$pFirst%.2f,"probe_sec":$pSteady%.2f,"recall_at5":$recall%.4f}"""
    }

    // the champion-sidecar lifecycle over the tier's full BM25 store
    def champ(): String = {
      val docs = Tables.documents(spark, out)
      val (pDir, lDir) =
        queries.Bm25Store.buildIfAbsent(spark, out, "full", docs)
      championSection(spark, out, docs, pDir, lDir, copies,
        () => sampleHeap())
    }

    // Persisted retrieval/dedup stores at scale (r16, the `store` section) —
    // what q127/q128 (BM25 inverted index) and q130/q131 (LSH sketch)
    // must prove at tier scale: (a) the BUILD grows with the corpus —
    // it is the tokenize/sketch cost the store exists to amortize;
    // (b) the persisted-path query costs strictly less than the direct
    // pipeline that recomputes the corpus per invocation, with
    // BIT-IDENTICAL output (asserted every pass, every tier); (c) a
    // frontier UPDATE on a fixed-size delta (the last copy's final 10%
    // of base docs — constant rows at every tier) stays flat while the
    // build it avoids grows. Each pass rebuilds everything from
    // scratch, so all fields are independent measurements.
    def stores(): String = {
      val docs = Tables.documents(spark, out)
      val nDocs = docs.count()
      val baseDocs = docs.filter(col("doc_id") < 1000000L).count()
      // replica ids are copy*1e6 + baseId, so this cut leaves exactly
      // the last copy's final 10% of base docs as the unindexed tail
      val seedCut = (copies - 1) * 1000000L + (baseDocs * 9) / 10
      val terms = Seq("table", "vector", "customer", "stream")

      // ---- BM25 inverted index ----
      val pDir = s"$out/_bm25_postings"
      val lDir = s"$out/_bm25_dl"
      Seq(pDir, lDir).foreach(p => rmrf(new File(p)))
      val tB = System.nanoTime()
      val (post, dlRows) = queries.Bm25Store.indexRows(docs)
      queries.Bm25Store.writePostings(spark, post, pDir, "overwrite", 8)
      queries.Bm25Store.writeDl(spark, dlRows, lDir, "overwrite")
      val bmBuildSec = (System.nanoTime() - tB) / 1e9
      sampleHeap()
      def bmProbeOnce(): Double = {
        val t = System.nanoTime()
        queries.Bm25Store.probe(spark, pDir, lDir, terms)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }
      val bmFirst = bmProbeOnce()
      val bmSteady = Seq.fill(3)(bmProbeOnce()).min
      val tBD = System.nanoTime()
      val bmDirect = queries.TextOps.q121Bm25.fn(spark, out).collect()
      val bmDirectSec = (System.nanoTime() - tBD) / 1e9
      val bmRows = queries.Bm25Store.probe(spark, pDir, lDir, terms).collect()
      require(bmRows.map(_.toString).toSeq == bmDirect.map(_.toString).toSeq,
        "persisted BM25 diverged from the direct pipeline at scale:\n" +
          s"  probe : ${bmRows.mkString(" ")}\n  direct: ${bmDirect.mkString(" ")}")
      // fixed-delta frontier update on a fresh seed index
      Seq(pDir, lDir).foreach(p => rmrf(new File(p)))
      val seed = docs.filter(col("doc_id") < seedCut)
      val nSeed = seed.count()
      val (post0, dl0) = queries.Bm25Store.indexRows(seed)
      queries.Bm25Store.writePostings(spark, post0, pDir, "overwrite", 8)
      queries.Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
      val tBU = System.nanoTime()
      val bmUpdated = queries.Bm25Store.ensureIndexed(spark, out, pDir, lDir)
      val bmUpdateSec = (System.nanoTime() - tBU) / 1e9
      require(bmUpdated == nDocs - nSeed,
        s"BM25 frontier update indexed $bmUpdated docs, expected ${nDocs - nSeed}")
      val bmRows2 = queries.Bm25Store.probe(spark, pDir, lDir, terms).collect()
      require(bmRows2.map(_.toString).toSeq == bmDirect.map(_.toString).toSeq,
        "frontier-updated BM25 index diverged from the direct pipeline")
      sampleHeap()
      System.err.println(f"[stress] bm25_store n=$nDocs build=$bmBuildSec%.1fs " +
        f"probe=$bmSteady%.2fs direct=$bmDirectSec%.1fs " +
        f"update=$bmUpdateSec%.2fs (${nDocs - nSeed} docs)")

      // ---- LSH sketch store ----
      val bDir = s"$out/_lsh_bands"
      val sDir = s"$out/_lsh_shingles"
      Seq(bDir, sDir).foreach(p => rmrf(new File(p)))
      val tL = System.nanoTime()
      queries.LshStore.writeIndex(spark, docs, bDir, sDir, "overwrite")
      val lshBuildSec = (System.nanoTime() - tL) / 1e9
      sampleHeap()
      def pairsOnce(): Double = {
        val t = System.nanoTime()
        queries.LshStore.pairs(spark, bDir, sDir).queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }
      val lshFirst = pairsOnce()
      val lshSteady = math.min(lshFirst, pairsOnce())
      // direct pipeline, cold (fresh session cache in a lone `store` pass):
      // tokenize + shingle + 32 md5 minima + band join + verify
      val tLD = System.nanoTime()
      val lshDirect = queries.Dedup.q46MinhashMd5.fn(spark, out).collect()
      val lshDirectSec = (System.nanoTime() - tLD) / 1e9
      val lshRows = queries.LshStore.pairs(spark, bDir, sDir).collect()
      require(lshRows.map(_.toString).toSeq == lshDirect.map(_.toString).toSeq,
        "persisted LSH pairs diverged from the direct sketch at scale")
      Seq(bDir, sDir).foreach(p => rmrf(new File(p)))
      queries.LshStore.writeIndex(spark, seed, bDir, sDir, "overwrite")
      val tLU = System.nanoTime()
      val lshUpdated = queries.LshStore.ensureIndexed(spark, out, bDir, sDir)
      val lshUpdateSec = (System.nanoTime() - tLU) / 1e9
      require(lshUpdated == nDocs - nSeed,
        s"LSH frontier update sketched $lshUpdated docs, expected ${nDocs - nSeed}")
      // the updated index must EQUAL the direct pipeline (not just have
      // indexed the right count) — the BM25 twin re-verifies after its
      // update (bmRows2) and "match":true below claims the same for LSH
      val lshRows2 = queries.LshStore.pairs(spark, bDir, sDir).collect()
      require(lshRows2.map(_.toString).toSeq == lshDirect.map(_.toString).toSeq,
        "frontier-updated LSH index diverged from the direct sketch")
      sampleHeap()
      System.err.println(f"[stress] lsh_store n=$nDocs build=$lshBuildSec%.1fs " +
        f"pairs=$lshSteady%.1fs (${lshRows.length} pairs) direct=$lshDirectSec%.1fs " +
        f"update=$lshUpdateSec%.2fs")

      f""""bm25_store":{"docs":$nDocs,"build_sec":$bmBuildSec%.2f,"probe_first_sec":$bmFirst%.2f,"probe_sec":$bmSteady%.2f,"direct_sec":$bmDirectSec%.2f,"update_docs":$bmUpdated,"update_sec":$bmUpdateSec%.2f,"match":true},"lsh_store":{"docs":$nDocs,"build_sec":$lshBuildSec%.2f,"pairs_first_sec":$lshFirst%.2f,"pairs_sec":$lshSteady%.2f,"pairs":${lshRows.length},"direct_sec":$lshDirectSec%.2f,"update_docs":$lshUpdated,"update_sec":$lshUpdateSec%.2f,"match":true}"""
    }

    // q111 re-measurement (r17: the salted hot-gram join) — first AND
    // steady per pass; the committed 100x row predates the salt, so
    // this section's passes replace it with the salted revision
    // disclosed (tools/merge_stress.py --section q111).
    def q111(): String = {
      val fn = SparkEntry.queries("q111_substring_dedup")
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, out).queryExecution.toRdd.count()
        sampleHeap()
        (System.nanoTime() - t0) / 1e9
      }
      val first = once()
      // min-of-3 steady: this host suffers multi-ten-second KERNEL
      // storms (vmstat sys% > 90 across all cores with user ~1%, no
      // IO wait — observed live this round) that can swallow a single
      // repeat of any shuffle-heavy query; the min is the code's cost,
      // the storms are the host's. r19: each pass samples /proc/stat
      // around itself — a pass that ran ≥ 35% system-mode is DISCARDED
      // and re-measured (bounded at 2 extras), with every discard and
      // each kept pass's sys%% recorded in the artifact.
      val steadies = scala.collection.mutable.ListBuffer[Double]()
      val passSys = scala.collection.mutable.ListBuffer[Double]()
      var stormDiscarded = 0
      while (steadies.length < 3) {
        val j0 = graft.util.Host.cpuJiffies()
        val t = once()
        val sysPct = graft.util.Host.sysPct(j0, graft.util.Host.cpuJiffies())
        if (sysPct >= 0.35 && stormDiscarded < 2) {
          stormDiscarded += 1
          System.err.println(f"[stress] q111: pass overlapped a kernel storm " +
            f"(sys=${sysPct * 100}%.0f%%), discarding ($stormDiscarded/2)")
        } else { steadies += t; passSys += sysPct }
      }
      val steady = steadies.min
      System.err.println(f"[stress] q111 first=$first%.1fs steady=$steady%.1fs " +
        s"(repeats ${steadies.map(s => f"$s%.1f").mkString("/")})")
      val reps = steadies.map(s => f"$s%.2f").mkString("[", ",", "]")
      val sysArr = passSys.map(s => f"$s%.3f").mkString("[", ",", "]")
      f""""q111_substring_dedup":{"first_sec":$first%.2f,"steady_sec":$steady%.2f,"steady_repeats":$reps,"pass_sys_pct":$sysArr,"storm_discarded":$stormDiscarded}"""
    }

    // Batched-probe scaling at tier scale (r19, the `probe` section): the
    // q137/q138/q139 shapes measured in the NUMBER OF QUERIES against
    // the tier's persisted stores — ivfProbeAll (dense), Bm25Store.
    // probeAll (sparse), LshStore.probeBatch (near-dup) at 100 / 1 000
    // / 10 000 queries. The claim: wall-clock grows sublinearly-to-
    // linearly in |Q| with NO per-query loop (a driver loop would be
    // |Q| × per-probe latency — 10 000 × ~1 s ≈ hours; one plan keeps
    // 10k queries in the seconds range). Query staging (sort + limit +
    // persist) is untimed; min-of-2 per point with per-pass sys%.
    def batchedProbes(): String = {
      val docs = Tables.documents(spark, out)
      val vecs = Tables.load(spark, out, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val sizes = Seq(100, 1000, 10000)
      def timed(body: => Unit): (Double, Double) = {
        val j0 = graft.util.Host.cpuJiffies()
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, graft.util.Host.sysPct(j0, graft.util.Host.cpuJiffies()))
      }
      def minOf2(body: => Unit): (Double, Double) = {
        val a = timed(body); val b = timed(body)
        if (a._1 <= b._1) a else b
      }
      def secsJson(xs: Seq[(Int, (Double, Double), Long)]): String =
        xs.map { case (nq, (sec, sys), rows) =>
          f"""{"n_queries":$nq,"sec":$sec%.2f,"sys_pct":$sys%.3f,"rows":$rows}"""
        }.mkString("[", ",", "]")
      // dense: persisted full-corpus IVF index
      val idx = queries.IvfStore.ensure(spark, out)
      val ivfRows = sizes.map { nq =>
        val qs = vecs.orderBy(col("vec_id")).limit(nq)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .persist()
        qs.count(): Unit
        var rows = 0L
        val m = minOf2 {
          rows = queries.Similarity.ivfProbeAll(spark, idx, qs, nProbe = 4,
              nQueriesHint = Some(nq.toLong))
            .queryExecution.toRdd.count()
        }
        qs.unpersist(): Unit
        sampleHeap()
        System.err.println(f"[stress] ivf_probe_all nq=$nq sec=${m._1}%.2f rows=$rows")
        (nq, m, rows)
      }
      // sparse: persisted full-corpus inverted index. r19 capped this
      // arm at 1 000 queries: the then-exhaustive probeAll scored every
      // (query, doc) pair sharing a term, and first-token query sets
      // are dominated by stop-word-class tokens whose postings span
      // much of the corpus (96.75 s / 1k queries at 100×). r20's
      // MaxScore pruning through the persisted champion sidecar
      // (rank-safe — ProbeAllSpec pins bit-equality with the exhaustive
      // plan, the q138 oracle is unchanged) keeps stop-word terms out
      // of the fan-out whenever a selective term sets the query's top-k
      // floor, so the 10 000-query point now runs here like the other
      // two arms. The FIRST timed pass of the first pruned-size point
      // includes the one-time sidecar build (ensureChampions — the
      // min-of-2 "sec" is the steady state; per-pass list discloses
      // the build); the 100-query point rides probeAllExhaustive by
      // the size switch, exactly as production would.
      val (pDir, lDir) = queries.Bm25Store.buildIfAbsent(spark, out, "full", docs)
      val bmRows = sizes.map { nq =>
        val qs = docs.orderBy(col("doc_id")).limit(nq)
          .select(col("doc_id").as("q_id"),
            org.apache.spark.sql.functions.slice(
              graft.functions.Text.tokens(col("text")), 1, 3).as("terms"))
          .persist()
        qs.count(): Unit
        var rows = 0L
        val m = minOf2 {
          rows = queries.Bm25Store.probeAll(spark, pDir, lDir, qs, topK = 5)
            .queryExecution.toRdd.count()
        }
        qs.unpersist(): Unit
        sampleHeap()
        System.err.println(f"[stress] bm25_probe_all nq=$nq sec=${m._1}%.2f rows=$rows")
        (nq, m, rows)
      }
      // near-dup: persisted full-corpus LSH index, batch sketched in-flight
      val (bDir, sDir) = queries.LshStore.buildIfAbsent(spark, out, "full", docs)
      val lshRows = sizes.map { nb =>
        val batch = docs.orderBy(col("doc_id")).limit(nb).persist()
        batch.count(): Unit
        var rows = 0L
        val m = minOf2 {
          rows = queries.LshStore.probeBatch(spark, bDir, sDir, batch)
            .queryExecution.toRdd.count()
        }
        batch.unpersist(): Unit
        sampleHeap()
        System.err.println(f"[stress] lsh_probe_batch nb=$nb sec=${m._1}%.2f rows=$rows")
        (nb, m, rows)
      }
      // Probe-after-append (r22, VERDICT #1): before the incremental
      // champion merge, ANY index append invalidated the sidecar and the
      // next large probe re-derived it with two full corpus passes —
      // cost proportional to index size. The committed claim: a
      // FIXED-SIZE delta (1024 docs) now costs a delta+sidecar-sized
      // merge at append time, and the next probe runs at the steady
      // floor; the OLD behavior is reproduced in the same pass by
      // deleting the sidecar and timing the first probe (full rebuild
      // inside). Runs on COPIES of the cached store so reruns never see
      // a pre-grown index.
      val afterAppendJson = championSection(spark, out, docs, pDir, lDir,
        copies, () => sampleHeap())
      // BM25 token-skew audit (r22, VERDICT #2), mirroring ivf_cell_skew:
      // per-token candidate fan-out of the MaxScore path at the
      // 10k-query point — the one corpus-sided join keyed on `token`
      // (tsLive ⋈ qFloor). In the broadcast regime that join has no
      // exchange; the committed ratios model the large-|Q| SHUFFLE
      // regime's exchange (pmod(hash(token), parts) is Spark's static
      // hash partitioning), which is the regime a mitigation would have
      // to size — threshold ~4, as for ivf cells.
      val tokSkewJson = {
        val qs = docs.orderBy(col("doc_id")).limit(10000)
          .select(col("doc_id").as("q_id"),
            org.apache.spark.sql.functions.slice(
              graft.functions.Text.tokens(col("text")), 1, 3).as("terms"))
        val loads = queries.Bm25Store.tokenLoad(spark, pDir, lDir, qs, topK = 5)
          .select(col("token"), col("candidates"),
            pmod(hash(col("token")), lit(shuffleParts.toInt)).as("part"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        val cands: Seq[Long] = loads.map(_._2).sorted.toSeq
        val byPart: Seq[Long] = loads.groupBy(_._3)
          .map(_._2.map(_._2).sum).toSeq.sorted
        def med(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs(xs.length / 2)
        val (cMax, cMed) = (cands.lastOption.getOrElse(0L), med(cands))
        val (pMax, pMed) = (byPart.lastOption.getOrElse(0L), med(byPart))
        val total = cands.sum
        val hot = loads.sortBy(-_._2).take(3)
          .map { case (t, c, _) => s"""{"token":"${t.replace("\"", "")}","candidates":$c}""" }
          .mkString("[", ",", "]")
        f""""bm25_token_skew":{"n_queries":10000,"tokens":${cands.length},"candidates_total":$total,"token_max":$cMax,"token_median":$cMed,"token_ratio":${if (cMed > 0) cMax.toDouble / cMed else -1.0}%.2f,"partition_max":$pMax,"partition_median":$pMed,"partition_ratio":${if (pMed > 0) pMax.toDouble / pMed else -1.0}%.2f,"hot":$hot}"""
      }
      System.err.println(s"[stress] $tokSkewJson")
      // skew audit of ivfProbeAll's one corpus-sized exchange (r20):
      // per-cell candidate load at the 10k-query point. A hot cell is a
      // straggler task at cluster scale; the committed ratio decides
      // whether salting / AQE skew-split is warranted (threshold ~4).
      // Also report the load re-bucketed by the shuffle's actual hash
      // partitioning — adjacent hot cells can collide into one task.
      val skewJson = {
        val qs = vecs.orderBy(col("vec_id")).limit(10000)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val loads = queries.Similarity.ivfCellLoad(spark, idx, qs, nProbe = 4)
          // pmod(hash(cell), parts) IS Spark's static HashPartitioning
          // function, so `part` models the task each cell's candidates
          // land on UNDER A PLAIN HASH EXCHANGE. Caveats (ADVICE r20):
          // with AQE partition coalescing / skew-split enabled the
          // runtime task mapping can differ, and in the broadcast (or
          // auto-broadcast) regime no (cell[, salt]) exchange exists at
          // all — the committed ratios are the model of the SALTED/HASH
          // regime's exchange, which is exactly the regime the audit
          // exists to size, not a trace of whatever plan local[32] ran.
          .select(col("cell").cast("long").as("cell"), col("candidates"),
            pmod(hash(col("cell")), lit(shuffleParts.toInt)).as("part"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        val cands: Seq[Long] = loads.map(_._2).sorted.toSeq
        val byPart: Seq[Long] = loads.groupBy(_._3)
          .map(_._2.map(_._2).sum).toSeq.sorted
        def med(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs(xs.length / 2)
        val (cMax, cMed) = (cands.lastOption.getOrElse(0L), med(cands))
        val (pMax, pMed) = (byPart.lastOption.getOrElse(0L), med(byPart))
        // the same load under the salted regime's exact (cell, salt)
        // key — the distribution the mitigation actually shuffles
        val saltF = queries.Similarity.ProbeSaltFactor
        val sLoads = queries.Similarity
          .ivfCellLoadSalted(spark, idx, qs, nProbe = 4, saltF = saltF)
          .select(col("candidates"),
            pmod(hash(col("cell"), col("salt")), lit(shuffleParts.toInt))
              .as("part"))
          .collect().map(r => (r.getLong(0), r.getInt(1)))
        val sCands: Seq[Long] = sLoads.map(_._1).sorted.toSeq
        val sByPart: Seq[Long] = sLoads.groupBy(_._2)
          .map(_._2.map(_._1).sum).toSeq.sorted
        val (sMax, sMed) = (sCands.lastOption.getOrElse(0L), med(sCands))
        val (spMax, spMed) = (sByPart.lastOption.getOrElse(0L), med(sByPart))
        f"""{"n_queries":10000,"n_probe":4,"cells":${cands.length},"cell_max":$cMax,"cell_median":$cMed,"cell_ratio":${if (cMed > 0) cMax.toDouble / cMed else -1.0}%.2f,"partition_max":$pMax,"partition_median":$pMed,"partition_ratio":${if (pMed > 0) pMax.toDouble / pMed else -1.0}%.2f,"salted":{"salt_factor":$saltF,"keys":${sCands.length},"key_max":$sMax,"key_median":$sMed,"key_ratio":${if (sMed > 0) sMax.toDouble / sMed else -1.0}%.2f,"partition_max":$spMax,"partition_median":$spMed,"partition_ratio":${if (spMed > 0) spMax.toDouble / spMed else -1.0}%.2f}}"""
      }
      System.err.println(s"[stress] ivf_cell_skew $skewJson")
      s""""ivf_probe_all":${secsJson(ivfRows)},"bm25_probe_all":${secsJson(bmRows)},"lsh_probe_batch":${secsJson(lshRows)},"ivf_cell_skew":$skewJson,$afterAppendJson,$tokSkewJson"""
    }

    // Long-run index-store self-compaction at tier scale (r19,
    // the `compact` section): q135 proves probe bit-identity under a FORCED
    // every-batch cycle at gate scale; this section measures the claim
    // that matters at 100 TB — a BM25 index maintained across 120
    // micro-batches under the PRODUCTION threshold
    // (graft.ivfCompactShards = 64) keeps its live shard count bounded
    // and its probe latency FLAT, while a never-compacting control of
    // the same drain fragments linearly (~240 live shards by the end).
    // Probes sample every 10 batches (with per-probe sys% so storm-
    // inflated samples are adjudicable); the two stores must end
    // probe-bit-identical — compaction merges files, never rows.
    def compaction(): String = {
      val feedCat =
        """{"table":{"name":"docs_feed_c"},"rowkey":"doc_id",
          | "columns":{"doc_id":{"cf":"rowkey","col":"doc_id","type":"long"},
          |            "text":{"cf":"t","col":"tx","type":"string"}}}""".stripMargin
      val docs = Tables.documents(spark, out).select("doc_id", "text")
      val nDocs = docs.count()
      // 120 single-version micro-batches, produced in 3 phases of 40
      // commits with a drain after each phase: a backlog deeper than
      // the 64-archive manifest retention is ADMITTED as one catch-up
      // batch (sound, but not the steady-state shape this section
      // measures), so the producer stays within retention and every
      // version drains as its own batch — the checkpoint carries the
      // offset across phases, exactly a long-lived production stream.
      val batches = 120
      val phases = 3
      val perPhase = batches / phases
      val feedDir = s"$out/_compact_feed"
      rmrf(new File(feedDir))
      // ascending doc_id slices (ntile over the global order): a fixed
      // batch COUNT at every tier, so trajectories compare across
      // 1x/10x/100x; the single-partition window runs once, at staging
      val sliced = docs.withColumn("slice",
          org.apache.spark.sql.functions.ntile(batches).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
        .persist()
      sliced.count(): Unit
      def commitSlices(from: Int, until: Int): Unit =
        (from until until).foreach { i =>
          sliced.filter(col("slice") === i + 1).drop("slice")
            .repartitionByRange(2, col("doc_id"))
            .write.format("graft-kv")
            .option("catalog", feedCat).option("path", feedDir)
            .mode("append").save()
        }
      val terms = Seq("table", "vector", "customer", "stream")
      final class Store(tag: String, threshold: String) {
        val pDir = s"$out/_compact_$tag-postings"
        val lDir = s"$out/_compact_$tag-dl"
        private val ckpt = s"$out/_compact_$tag-ckpt"
        Seq(pDir, lDir, ckpt).foreach(p => rmrf(new File(p)))
        val batchSecs = scala.collection.mutable.ListBuffer[Double]()
        val probeSecs = scala.collection.mutable.ListBuffer[Double]()
        val liveShards = scala.collection.mutable.ListBuffer[Int]()
        val probeSys = scala.collection.mutable.ListBuffer[Double]()
        var n = 0
        /** One AvailableNow drain of the feed's current backlog; the
          * checkpoint is KEPT across calls so each drain continues from
          * the previous phase's offset. */
        def drainPhase(): Unit = {
          queries.StreamMaint.withConfs(spark,
            "graft.ivfCompactShards" -> threshold, "graft.ivfVacuumGraceMs" -> "0") {
            val q = spark.readStream.format("graft-kv")
              .option("catalog", feedCat).option("path", feedDir)
              .option("maxVersionsPerTrigger", 1).load()
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                val t0 = System.nanoTime()
                queries.Bm25Store.maintainBatch(spark, batch, pDir, lDir): Unit
                batchSecs += (System.nanoTime() - t0) / 1e9
                n += 1
                if (n % 10 == 0) {
                  val j0 = graft.util.Host.cpuJiffies()
                  val tp = System.nanoTime()
                  queries.Bm25Store.probe(spark, pDir, lDir, terms).collect(): Unit
                  probeSecs += (System.nanoTime() - tp) / 1e9
                  probeSys += graft.util.Host.sysPct(j0, graft.util.Host.cpuJiffies())
                  liveShards += graft.kv.KvStore.readMeta(pDir).shards.length
                }
                ()
              }
              .option("checkpointLocation", ckpt)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          sampleHeap()
        }
      }
      val prod = new Store("prod", "64")
      val ctrl = new Store("ctrl", Int.MaxValue.toString)
      (0 until phases).foreach { ph =>
        commitSlices(ph * perPhase, (ph + 1) * perPhase)
        prod.drainPhase()
        ctrl.drainPhase()
      }
      sliced.unpersist(): Unit
      require(prod.n == batches && ctrl.n == batches,
        s"expected $batches single-version micro-batches per store, " +
          s"drained prod=${prod.n} ctrl=${ctrl.n}")
      val (pB, pP, pL, pS) =
        (prod.batchSecs.toSeq, prod.probeSecs.toSeq, prod.liveShards.toSeq,
          prod.probeSys.toSeq)
      val (cB, cP, cL, cS) =
        (ctrl.batchSecs.toSeq, ctrl.probeSecs.toSeq, ctrl.liveShards.toSeq,
          ctrl.probeSys.toSeq)
      // the two stores must answer identically — compaction merged files only
      val prodProbe = queries.Bm25Store.probe(spark,
        s"$out/_compact_prod-postings", s"$out/_compact_prod-dl", terms).collect()
      val ctrlProbe = queries.Bm25Store.probe(spark,
        s"$out/_compact_ctrl-postings", s"$out/_compact_ctrl-dl", terms).collect()
      require(prodProbe.map(_.toString).toSeq == ctrlProbe.map(_.toString).toSeq,
        "compacted store diverged from the uncompacted control")
      require(pL.last <= 66,
        s"production threshold failed to bound live shards: ${pL.last}")
      // 1-2 non-empty shards land per batch (tiny per-batch postings can
      // collapse to one range partition), so the control ends at
      // ~batches..2*batches live shards — anything well past the
      // production threshold proves it never compacted
      require(cL.last >= batches - 10, s"control unexpectedly compacted: ${cL.last}")
      def arrD(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
      def arrI(xs: Seq[Int]) = xs.mkString("[", ",", "]")
      System.err.println(s"[stress] compact prod live=${pL.mkString("/")} probes=${arrD(pP)}")
      System.err.println(s"[stress] compact ctrl live=${cL.mkString("/")} probes=${arrD(cP)}")
      s""""batches":$batches,"docs":$nDocs,"prod":{"threshold":64,"batch_secs":${arrD(pB)},"probe_secs":${arrD(pP)},"probe_sys_pct":${arrD(pS)},"live_shards":${arrI(pL)}},"control":{"threshold":"inf","batch_secs":${arrD(cB)},"probe_secs":${arrD(cP)},"probe_sys_pct":${arrD(cS)},"live_shards":${arrI(cL)}},"match":true"""
    }

    // Streaming index maintenance at scale (r17, q132's composition):
    // the corpus arrives as v1 = seed snapshot + 3 FIXED-SIZE tail
    // versions (the last copy's final 10% of base docs, split in 3 —
    // constant rows at every tier); the inverted index is pre-built
    // over the seed, then the tail versions drain as micro-batches
    // (sinceVersion = 1), each appending past the dl frontier. The
    // 100 TB claim this measures: per-batch maintenance cost tracks
    // the BATCH, not the accumulated corpus — batch_secs should stay
    // flat across tiers while the seed index it maintains grows 100x.
    // Equality is asserted against the direct full-corpus pipeline
    // (the q128 equation) every pass.
    def streaming(): String = {
      val feedCat =
        """{"table":{"name":"docs_feed"},"rowkey":"doc_id",
          | "columns":{"doc_id":{"cf":"rowkey","col":"doc_id","type":"long"},
          |            "text":{"cf":"t","col":"tx","type":"string"}}}""".stripMargin
      val docs = Tables.documents(spark, out).select("doc_id", "text")
      val nDocs = docs.count()
      val baseDocs = docs.filter(col("doc_id") < 1000000L).count()
      val seedCut = (copies - 1) * 1000000L + (baseDocs * 9) / 10
      val tailSpan = baseDocs - (baseDocs * 9) / 10
      val cuts = Seq(seedCut + tailSpan / 3, seedCut + 2 * tailSpan / 3)
      val feedDir = s"$out/_stream_feed"
      val pDir = s"$out/_stream_postings"
      val lDir = s"$out/_stream_dl"
      val ckpt = s"$out/_stream_ckpt"
      Seq(feedDir, pDir, lDir, ckpt).foreach(p => rmrf(new File(p)))
      def commitFeed(df: org.apache.spark.sql.DataFrame): Unit =
        df.repartitionByRange(4, col("doc_id"))
          .write.format("graft-kv")
          .option("catalog", feedCat).option("path", feedDir)
          .mode("append").save()
      commitFeed(docs.filter(col("doc_id") < seedCut)) // v1: seed snapshot
      commitFeed(docs.filter(col("doc_id") >= seedCut && col("doc_id") < cuts(0)))
      commitFeed(docs.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)))
      commitFeed(docs.filter(col("doc_id") >= cuts(1)))
      // pre-build the index over the seed (the build the stream avoids)
      val tB = System.nanoTime()
      val (p0, dl0) = queries.Bm25Store.indexRows(docs.filter(col("doc_id") < seedCut))
      queries.Bm25Store.writePostings(spark, p0, pDir, "overwrite", 8)
      queries.Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
      val seedBuildSec = (System.nanoTime() - tB) / 1e9
      sampleHeap()
      val batchSecs = scala.collection.mutable.ListBuffer[Double]()
      val batchDocs = scala.collection.mutable.ListBuffer[Long]()
      val batchSys = scala.collection.mutable.ListBuffer[Double]()
      val tD = System.nanoTime()
      val q = spark.readStream.format("graft-kv")
        .option("catalog", feedCat).option("path", feedDir)
        .option("sinceVersion", 1).option("maxVersionsPerTrigger", 1).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val j0 = graft.util.Host.cpuJiffies()
          val t0 = System.nanoTime()
          batchDocs += queries.Bm25Store.maintainBatch(spark, batch, pDir, lDir)
          batchSecs += (System.nanoTime() - t0) / 1e9
          batchSys += graft.util.Host.sysPct(j0, graft.util.Host.cpuJiffies())
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drainSec = (System.nanoTime() - tD) / 1e9
      sampleHeap()
      require(batchDocs.sum == nDocs - docs.filter(col("doc_id") < seedCut).count(),
        s"stream maintenance indexed ${batchDocs.sum} docs, expected the staged tail")
      val terms = Seq("table", "vector", "customer", "stream")
      val probeRows = queries.Bm25Store.probe(spark, pDir, lDir, terms).collect()
      val tDir = System.nanoTime()
      val direct = queries.TextOps.q121Bm25.fn(spark, out).collect()
      val directSec = (System.nanoTime() - tDir) / 1e9
      require(probeRows.map(_.toString).toSeq == direct.map(_.toString).toSeq,
        "stream-maintained index diverged from the direct full-corpus pipeline")
      System.err.println(f"[stress] bm25_stream n=$nDocs seed_build=$seedBuildSec%.1fs " +
        s"batches=${batchSecs.map(s => f"$s%.2f").mkString("/")}s " +
        f"drain=$drainSec%.1fs direct=$directSec%.1fs")
      val batchArr = batchSecs.map(s => f"$s%.2f").mkString("[", ",", "]")
      val docsArr = batchDocs.mkString("[", ",", "]")
      val bSysArr = batchSys.map(s => f"$s%.3f").mkString("[", ",", "]")

      // ---- ivf_stream: q133's dense twin at tier scale ----
      // Same shape: seed index frozen on everything below the cut, a
      // FIXED-SIZE tail (the last copy's final 10% of base vectors)
      // drains as 3 micro-batches of frozen-centroid assignment.
      // Equality check: the micro-batch-drained index must probe
      // identically to the SAME tail appended as ONE q116-style batch
      // (splitting maintenance into micro-batches changes nothing);
      // gate-scale q133 pins absolute correctness against DuckDB.
      val vecs = Tables.load(spark, out, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val nVecs2 = vecs.count()
      val baseVecs = vecs.filter(col("vec_id") < 1000000L).count()
      val seedCutV = (copies - 1) * 1000000L + (baseVecs * 9) / 10
      val tailN = nVecs2 - vecs.filter(col("vec_id") < seedCutV).count()
      def stageIvf(tag: String): String = {
        val corpusDir = s"$out/_ivfstream_$tag"
        rmrf(new File(corpusDir))
        rmrf(new File(queries.IvfStore.indexRoot(corpusDir)))
        vecs.filter(col("vec_id") < seedCutV).coalesce(4)
          .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
        val t = System.nanoTime()
        queries.IvfStore.build(spark, corpusDir)
        System.err.println(f"[stress] ivf_stream seed build ($tag) = ${(System.nanoTime() - t) / 1e9}%.1fs")
        corpusDir
      }
      val tSB = System.nanoTime()
      val corpusA = stageIvf("a")
      val ivfSeedSec = (System.nanoTime() - tSB) / 1e9
      sampleHeap()
      // feed: v1 = seed snapshot, v2-v4 = the fixed tail in 3 slices
      val vFeed = s"$out/_ivfstream_feed"
      val vCkpt = s"$out/_ivfstream_ckpt"
      Seq(vFeed, vCkpt).foreach(p => rmrf(new File(p)))
      val vCuts = Seq(seedCutV + (baseVecs - (baseVecs * 9) / 10) / 3,
        seedCutV + 2 * (baseVecs - (baseVecs * 9) / 10) / 3)
      def commitVFeed(df: org.apache.spark.sql.DataFrame): Unit =
        df.repartitionByRange(2, col("vec_id"))
          .write.format("graft-kv")
          .option("catalog", queries.IvfStore.feedCatalog).option("path", vFeed)
          .mode("append").save()
      commitVFeed(vecs.filter(col("vec_id") < seedCutV))
      commitVFeed(vecs.filter(col("vec_id") >= seedCutV && col("vec_id") < vCuts(0)))
      commitVFeed(vecs.filter(col("vec_id") >= vCuts(0) && col("vec_id") < vCuts(1)))
      commitVFeed(vecs.filter(col("vec_id") >= vCuts(1)))
      val vBatchSecs = scala.collection.mutable.ListBuffer[Double]()
      val vBatchVecs = scala.collection.mutable.ListBuffer[Long]()
      val vBatchSys = scala.collection.mutable.ListBuffer[Double]()
      val tVD = System.nanoTime()
      val vq = spark.readStream.format("graft-kv")
        .option("catalog", queries.IvfStore.feedCatalog).option("path", vFeed)
        .option("sinceVersion", 1).option("maxVersionsPerTrigger", 1).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val j0 = graft.util.Host.cpuJiffies()
          val t0 = System.nanoTime()
          vBatchVecs += queries.IvfStore.maintainBatch(spark, corpusA, batch)
          vBatchSecs += (System.nanoTime() - t0) / 1e9
          vBatchSys += graft.util.Host.sysPct(j0, graft.util.Host.cpuJiffies())
          ()
        }
        .option("checkpointLocation", vCkpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      vq.awaitTermination()
      val vDrainSec = (System.nanoTime() - tVD) / 1e9
      sampleHeap()
      require(vBatchVecs.sum == tailN,
        s"ivf stream maintenance indexed ${vBatchVecs.sum} vectors, expected $tailN")
      // one-batch twin: the same tail appended in a single maintenance call
      val corpusB = stageIvf("b")
      val tOB = System.nanoTime()
      val oneBatch = queries.IvfStore.maintainBatch(spark, corpusB,
        vecs.filter(col("vec_id") >= seedCutV))
      val oneBatchSec = (System.nanoTime() - tOB) / 1e9
      require(oneBatch == tailN, s"one-batch twin indexed $oneBatch, expected $tailN")
      val qv = vecs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probeA = queries.Similarity.ivfProbe(spark,
        queries.IvfStore.load(spark, corpusA), qv, nProbe = 4).collect()
      val probeB = queries.Similarity.ivfProbe(spark,
        queries.IvfStore.load(spark, corpusB), qv, nProbe = 4).collect()
      require(probeA.map(_.toString).toSeq == probeB.map(_.toString).toSeq,
        "micro-batch-drained IVF index diverged from the one-batch-appended twin")
      sampleHeap()
      System.err.println(f"[stress] ivf_stream n=$nVecs2 seed_build=$ivfSeedSec%.1fs " +
        s"batches=${vBatchSecs.map(s => f"$s%.2f").mkString("/")}s " +
        f"drain=$vDrainSec%.1fs onebatch=$oneBatchSec%.1fs")
      val vBatchArr = vBatchSecs.map(s => f"$s%.2f").mkString("[", ",", "]")
      val vVecsArr = vBatchVecs.mkString("[", ",", "]")
      val vSysArr = vBatchSys.map(s => f"$s%.3f").mkString("[", ",", "]")

      f""""bm25_stream":{"docs":$nDocs,"seed_build_sec":$seedBuildSec%.2f,"batch_secs":$batchArr,"batch_docs":$docsArr,"batch_sys_pct":$bSysArr,"drain_sec":$drainSec%.2f,"direct_sec":$directSec%.2f,"match":true},"ivf_stream":{"vectors":$nVecs2,"seed_build_sec":$ivfSeedSec%.2f,"batch_secs":$vBatchArr,"batch_vecs":$vVecsArr,"batch_sys_pct":$vSysArr,"drain_sec":$vDrainSec%.2f,"onebatch_sec":$oneBatchSec%.2f,"match":true}"""
    }

    // CDC catch-up at scale — the q113 composition measured: a KV table
    // written as 4 append versions (v1 = backfill snapshot, v2-v4 = the
    // tail), then a streaming tail from sinceVersion=1 drained with
    // AvailableNow under a 64 MB byte-denominated admission cap, so
    // catch-up runs as BOUNDED micro-batches (the unit of retry stays
    // fixed as the backlog grows — the 100 TB requirement) and the
    // rows/sec across tiers is the catch-up throughput curve. The table
    // build is cached across passes (build_sec = 0 on reuse); the drain
    // re-runs every pass from a fresh checkpoint. Exactly-once is
    // asserted at scale: drained rows must equal the tail's row count.
    def cdcCatchup(): String = {
      val cdcDir = s"$out/_kv_cdc_catchup2" // v2: byte-sized tail versions
      val cdcCat =
        """{"table":{"name":"cdc_catchup"},"rowkey":"lk",
          | "columns":{"lk":{"cf":"rowkey","col":"lk","type":"long"},
          |            "l_quantity":{"cf":"m","col":"qt","type":"double"},
          |            "l_returnflag":{"cf":"m","col":"rf","type":"string"}}}""".stripMargin
      val li = spark.read.parquet(s"$out/lineitem.parquet")
        .select((col("l_orderkey") * 100 + col("l_linenumber")).as("lk"),
          col("l_quantity"), col("l_returnflag"), col("l_orderkey"))
      val built = !new File(s"$cdcDir/_kvmeta.json").exists()
      var buildSec = 0.0
      val tailRows = li.filter(col("l_orderkey") % 4 =!= 0).count()
      val byteCap = 64L << 20
      if (built) {
        // v1 = the backfill snapshot (25% of rows); the tail is then
        // committed as ~12 MB versions SIZED FROM the backfill's
        // measured bytes/row, so at the big tiers the 64 MB admission
        // cap genuinely packs/splits batches (≈5 versions per batch)
        // instead of degenerating to the one-version progress guarantee
        // on oversized commits (the pre-r14 3-version tail did exactly
        // that at 30×/100×)
        val t0 = System.nanoTime()
        li.filter(col("l_orderkey") % 4 === 0).drop("l_orderkey")
          .repartitionByRange(32, col("lk"))
          .write.format("graft-kv").option("catalog", cdcCat)
          .option("path", cdcDir).mode("append").save()
        val m1 = graft.kv.KvStore.readMeta(cdcDir)
        val backBytes = m1.shards
          .map(sh => new File(s"$cdcDir/${sh.file}").length()).sum
        val bytesPerRow = backBytes.toDouble / math.max(1L, m1.shards.map(_.rows).sum)
        val nTail = math.min(96L, math.max(3L,
          math.ceil(tailRows * bytesPerRow / (12 << 20)).toLong)).toInt
        // slice once, cache, write per slice — 96 tail commits at 100×
        // must not mean 96 full lineitem scans
        val tailDf = li.filter(col("l_orderkey") % 4 =!= 0)
          .withColumn("tslice", pmod(xxhash64(col("lk")), lit(nTail)))
          .drop("l_orderkey").persist()
        (0 until nTail).foreach { t =>
          tailDf.filter(col("tslice") === t).drop("tslice")
            .repartitionByRange(8, col("lk"))
            .write.format("graft-kv").option("catalog", cdcCat)
            .option("path", cdcDir).mode("append").save()
        }
        tailDf.unpersist(blocking = true)
        buildSec = (System.nanoTime() - t0) / 1e9
      }
      // reuse passes recover the tail-version count from the manifest
      val tailVersions = graft.kv.KvStore.readMeta(cdcDir).version - 1
      val tailBytes = graft.kv.KvStore.readMeta(cdcDir).shards
        .filter(_.firstVersion >= 2)
        .map(sh => new File(s"$cdcDir/${sh.file}").length()).sum
      val ckpt = s"$cdcDir-ckpt"
      rmrf(new File(ckpt))
      val t1 = System.nanoTime()
      val q = spark.readStream.format("graft-kv")
        .option("catalog", cdcCat).option("path", cdcDir)
        .option("sinceVersion", 1)
        .option("maxBytesPerTrigger", (64L << 20).toString)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drainSec = (System.nanoTime() - t1) / 1e9
      sampleHeap()
      val progresses = q.recentProgress
      val drained = progresses.map(_.numInputRows).sum
      val nBatches = progresses.count(_.numInputRows > 0)
      q.stop()
      rmrf(new File(ckpt))
      // recentProgress keeps the last 100 updates; at 64 MB per batch
      // the tiers stay well under that — if a future tier overflows it,
      // the count is partial and the assert must not fire spuriously
      if (progresses.length < 100) {
        require(drained == tailRows,
          s"CDC tail drained $drained rows, expected $tailRows (exactly-once violated)")
        // when the backlog exceeds the cap severalfold, the byte cap
        // must BOTH split the drain (more than one batch) and pack
        // multiple small versions per batch (fewer batches than
        // versions) — the two halves of byte-denominated admission
        if (tailBytes > 2 * byteCap)
          require(nBatches > 1 && nBatches < tailVersions,
            s"byte cap did not shape the drain: $nBatches batches over " +
              s"$tailVersions tail versions ($tailBytes bytes, cap $byteCap)")
      }
      System.err.println(f"[stress] cdc_catchup built=$built build=$buildSec%.1fs " +
        f"drain=$drainSec%.1fs rows=$tailRows tail_versions=$tailVersions " +
        f"tail_mb=${tailBytes / 1048576}%d batches=$nBatches (${tailRows / drainSec}%.0f rows/s)")
      f""""cdc_catchup":{"built":$built,"build_sec":$buildSec%.2f,"drain_sec":$drainSec%.2f,"tail_rows":$tailRows,"tail_versions":$tailVersions,"tail_bytes":$tailBytes,"micro_batches":$nBatches,"rows_per_sec":${tailRows / drainSec}%.0f}"""
    }

    // Event-time stream-stream join at scale — KvStreamSpec's unit test
    // composed two KV streams with watermark state cleanup; this section
    // drains the SAME composition over the replica's events table as
    // rate-limited AvailableNow micro-batches and asserts the two
    // 100 TB-critical properties simultaneously:
    //  - EXACT output: each side is written as 8 time-partitioned append
    //    versions (slice spans ≫ watermark delay ≥ join window, so no
    //    in-window pair can be evicted or late-dropped before its match
    //    arrives) and the drained join-row count must equal a batch join
    //    of the same tables — exactly-once across the whole drain;
    //  - BOUNDED STATE: watermark eviction must hold peak join state
    //    well under the total ingested rows, or a long catch-up
    //    accumulates both streams in memory.
    def ssJoin(): String = {
      val lDir = s"$out/_kv_ssj_left"
      val rDir = s"$out/_kv_ssj_right"
      val lCat =
        """{"table":{"name":"ssj_left"},"rowkey":"event_id",
          | "columns":{"event_id":{"cf":"rowkey","col":"event_id","type":"long"},
          |            "u":{"cf":"f","col":"u","type":"long"},
          |            "et":{"cf":"f","col":"et","type":"long"}}}""".stripMargin
      val rCat = lCat.replace("ssj_left", "ssj_right")
      val ev = Tables.events(spark, out)
        .select(col("event_id"), col("user_id").as("u"),
          unix_millis(col("ts")).as("et"))
      val ssBuilt = !new File(s"$lDir/_kvmeta.json").exists()
      var ssBuildSec = 0.0
      if (ssBuilt) {
        val t0 = System.nanoTime()
        val r = ev.agg(min(col("et")), max(col("et"))).head
        val (tMin, tMax) = (r.getLong(0), r.getLong(1))
        val span = math.max(1L, (tMax - tMin) / 8 + 1)
        val sliced = ev.withColumn("slice",
          least(lit(7), ((col("et") - tMin) / span).cast("int"))).persist()
        (0 until 8).foreach { i =>
          def wr(df: DataFrame, cat: String, dir: String): Unit =
            df.filter(col("slice") === i).drop("slice")
              .repartitionByRange(8, col("event_id"))
              .write.format("graft-kv").option("catalog", cat).option("path", dir)
              .mode("append").save()
          wr(sliced.filter(col("event_id") % 2 === 0), lCat, lDir)
          wr(sliced.filter(col("event_id") % 2 === 1), rCat, rDir)
        }
        sliced.unpersist(blocking = true)
        ssBuildSec = (System.nanoTime() - t0) / 1e9
      }
      // ground truth: the same interval join in batch over the same
      // KV tables (equi on user + inclusive 1-hour window, as millis)
      def side(cat: String, dir: String) = spark.read.format("graft-kv")
        .option("catalog", cat).option("path", dir).load()
      val truth = side(lCat, lDir).select(col("u").as("lu"), col("et").as("lt"))
        .join(side(rCat, rDir).select(col("u").as("ru"), col("et").as("rt")),
          expr("lu = ru AND rt BETWEEN lt AND lt + 3600000"))
        .count()
      val ckpt = s"$lDir-ckpt"
      rmrf(new File(ckpt))
      def stream(cat: String, dir: String, p: String) =
        spark.readStream.format("graft-kv")
          .option("catalog", cat).option("path", dir)
          .option("maxVersionsPerTrigger", 1)
          .option("eventTimeColumn", "et").option("eventTimeUnit", "millis").load()
          .withWatermark("_event_time", "2 hours")
          .select(col("u").as(s"${p}u"), col("_event_time").as(s"${p}t"))
      // STATE parallelism is sized to the per-batch ADMITTED volume,
      // not the session's batch-shuffle default: admission control caps
      // what one micro-batch carries, and a stream-stream join pays 4
      // state stores per partition per trigger (two sides ×
      // keyToNumValues/keyWithIndexToValue — open, commit, snapshot
      // bookkeeping) REGARDLESS of rows in them. The round-15 profile
      // (durationMs, emitted below) showed addBatch at 32 partitions =
      // 3.4 s/batch of which ~2.8 s was this fixed store machinery: the
      // 1x drain fell 36.8 s → 13.6 s just by sizing state partitions
      // to the capped batch volume, with identical joined rows and peak
      // state. On a real cluster the same rule applies against the
      // byte-denominated cap — state partitions follow the admission
      // cap, and only the operator's STORED volume (watermark-bounded)
      // decides when to scale them up.
      val ssStateParts = 8
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val t1 = System.nanoTime()
      val (ssDrainSec, progresses) = try {
        spark.conf.set("spark.sql.shuffle.partitions", ssStateParts.toString)
        val q = stream(lCat, lDir, "l").join(stream(rCat, rDir, "r"),
            expr("lu = ru AND rt BETWEEN lt AND lt + interval 1 hour"))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val d = (System.nanoTime() - t1) / 1e9
        val ps = q.recentProgress
        q.stop()
        (d, ps)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      sampleHeap()
      val outRows = progresses.map(_.sink.numOutputRows).filter(_ > 0).sum
      val inRows = progresses.map(_.numInputRows).sum
      val maxState = progresses.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val nB = progresses.count(_.numInputRows > 0)
      rmrf(new File(ckpt))
      if (progresses.length < 100) {
        require(outRows == truth,
          s"stream-stream join drained $outRows rows, batch truth is $truth")
        require(maxState < inRows / 4,
          s"join state peaked at $maxState of $inRows ingested — watermark eviction is not bounding state")
      }
      // per-batch cost decomposition (median ms across triggers): where
      // the drain's seconds actually go — addBatch is join + state-store
      // execution, queryPlanning/latestOffset are the per-trigger source
      // planning the manifest cache is supposed to keep flat
      def durMed(key: String): Long = {
        val vs = progresses.map(p =>
          Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sorted
        if (vs.isEmpty) 0L else vs(vs.length / 2)
      }
      val profJson =
        s""""per_batch_ms":{"add_batch":${durMed("addBatch")},"query_planning":${durMed("queryPlanning")},"latest_offset":${durMed("latestOffset")},"commit_offsets":${durMed("commitOffsets")},"wal_commit":${durMed("walCommit")}}"""
      System.err.println(f"[stress] ss_join built=$ssBuilt build=$ssBuildSec%.1fs " +
        f"drain=$ssDrainSec%.1fs joined=$outRows truth=$truth batches=$nB " +
        f"max_state=$maxState in_rows=$inRows stateParts=$ssStateParts " +
        f"addBatchMed=${durMed("addBatch")}ms")
      f""""ss_join":{"built":$ssBuilt,"build_sec":$ssBuildSec%.2f,"drain_sec":$ssDrainSec%.2f,"joined_rows":$outRows,"truth_rows":$truth,"micro_batches":$nB,"max_state_rows":$maxState,"input_rows":$inRows,"state_partitions":$ssStateParts,$profJson}"""
    }

    // near-dup PAIR enumeration at scale (q55's documented scale knob):
    // bucket width grows with the corpus. A STATIC plane count is the
    // trap round 7 measured — at 30× the 8-plane/256-bucket grid stayed
    // fixed while the corpus tripled, so per-bucket density (and the
    // quadratic false-candidate enumeration) tripled too: steady 38 s
    // vs a ~12 s pair-linear expectation. planes ≈ log2(n / 64) keeps
    // the EXPECTED bucket size bounded as n grows, which keeps candidate
    // counts ~linear in true pairs; epsilon-twin recall is unaffected
    // (near-identical vectors agree with virtually every hyperplane) and
    // stays hard-asserted at ≥ 0.95 below. The 10×/30× replicas have
    // real ground truth: every base vector has `copies` epsilon-
    // perturbed cross-copy twins → base_n · C(copies, 2) true pairs.
    def nearDupPairs(): String = {
      val emb = spark.read.parquet(s"$out/embeddings.parquet")
      val nVec = emb.count()
      val planes = math.max(4,
        math.ceil(math.log(nVec / 64.0) / math.log(2.0)).toInt)
      def pairsOnce(): (Double, DataFrame) = {
        val t0 = System.nanoTime()
        val df = queries.Similarity.lshNearDupPairs(emb, threshold = 0.9,
          tables = 4, planesPerTable = planes)
        df.queryExecution.toRdd.count()
        sampleHeap()
        ((System.nanoTime() - t0) / 1e9, df)
      }
      val (pFirst, _) = pairsOnce()
      val (pSteady, pairsDf0) = pairsOnce()
      // one more materialization serves BOTH the pair count and the recall
      // filter (uncached counts would re-run the whole LSH pipeline each)
      val pairsDf = pairsDf0.persist()
      val nPairs = pairsDf.count()
      // Recall against the replica's GROUND TRUTH, not just a pair count:
      // copy i of base vector v differs from copy j only in the first
      // component (±0.001·|i−j|), so the epsilon-twin pairs — every
      // cross-copy (i,j) pair per base id, base_n · C(copies,2) total —
      // are all true near-dups at cosine ≥ 0.9. A found pair is "true"
      // iff both sides share vec_id % 1000000 (the base id). The base
      // corpus itself has no ≥0.9 pairs (q55 at 1× returns 0 rows), so
      // at copies == 1 there is no ground truth and recall is skipped.
      val recallJson = if (copies > 1) {
        val baseN = spark.read.parquet(s"$base/embeddings.parquet").count()
        val truePairs = baseN * copies.toLong * (copies - 1) / 2
        val foundTrue = pairsDf
          .filter(col("id_a") % 1000000L === col("id_b") % 1000000L).count()
        val recall = foundTrue.toDouble / truePairs
        System.err.println(f"[stress] near_dup recall=$recall%.4f ($foundTrue of $truePairs true twin pairs)")
        // near-identical vectors agree with every hyperplane w.h.p.; with
        // 4 independent tables a recall under 0.95 means the bucketing is
        // broken, not unlucky — fail the probe loudly
        require(recall >= 0.95, f"LSH near-dup recall $recall%.4f < 0.95 against replica ground truth")
        f""","recall":$recall%.4f,"true_pairs":$truePairs,"found_true":$foundTrue"""
      } else ""
      pairsDf.unpersist(blocking = true)
      System.err.println(f"[stress] near_dup_pairs planes=$planes first=$pFirst%.1fs steady=$pSteady%.1fs pairs=$nPairs")
      f""""near_dup_pairs":{"planes":$planes,"first_sec":$pFirst%.2f,"steady_sec":$pSteady%.2f,"pairs":$nPairs$recallJson}"""
    }

    // Sequence-packing A/B (q105): the distributed prefix sum
    // (bucket subtotals → broadcast offsets → parallel local cumsums)
    // vs the naive one-window-partition-per-LANGUAGE shape it replaced
    // in round 9. The replica keeps the base corpus's skewed language
    // mix, so the naive shape runs the whole cumsum on #languages
    // tasks while the distributed shape runs on #languages × buckets —
    // the two must agree row-for-row (asserted via symmetric EXCEPT).
    def packingAb(): String = {
      def timePack(mk: () => DataFrame): (Double, DataFrame) = {
        def once(): (Double, DataFrame) = {
          val t0 = System.nanoTime()
          val df = mk()
          df.queryExecution.toRdd.count()
          sampleHeap()
          ((System.nanoTime() - t0) / 1e9, df)
        }
        val (a, _) = once(); val (b, df) = once()
        (math.min(a, b), df)
      }
      val (packDistSec, packDistDf) =
        timePack(() => SparkEntry.queries("q105_sequence_packing")(spark, out))
      val (packLangSec, packLangDf) = timePack { () =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(spark, out)
          .select(col("doc_id"), col("lang"),
            size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_toks"))
          .withColumn("cum", sum(col("n_toks")).over(w))
          .select(col("doc_id"), col("lang"), col("n_toks"),
            expr("(cum - n_toks) DIV 2048").as("first_seq"),
            expr("CASE WHEN n_toks = 0 THEN (cum - n_toks) DIV 2048 " +
                 "ELSE (cum - 1) DIV 2048 END").as("last_seq"))
      }
      val packDiff = packDistDf.except(packLangDf).count() +
        packLangDf.except(packDistDf).count()
      require(packDiff == 0,
        s"distributed packing disagrees with per-language window on $packDiff rows")
      System.err.println(f"[stress] packing distributed=$packDistSec%.2fs per_lang_window=$packLangSec%.2fs (x${packLangSec / packDistSec}%.2f)")
      f""""packing_ab":{"distributed_sec":$packDistSec%.2f,"per_lang_window_sec":$packLangSec%.2f,"speedup":${packLangSec / packDistSec}%.2f}"""
    }

    // Columnar vs row full-scan A/B on a KV table built from the
    // replica's lineitem (the vectorized path's target workload: wide
    // flat schema, no pruning — every record decoded; big enough that
    // the scan is decode-bound, not task-scheduling-bound). Same table,
    // same scan, only the reader changes.
    def columnarAb(): String = {
      val abDir = s"$out/_kv_columnar_ab_li"
      val abCat =
        """{"table":{"name":"lineitem_ab"},"rowkey":"lk",
          | "columns":{"lk":{"cf":"rowkey","col":"lk","type":"long"},
          |            "l_partkey":{"cf":"m","col":"pk","type":"long"},
          |            "l_quantity":{"cf":"m","col":"qt","type":"double"},
          |            "l_extendedprice":{"cf":"m","col":"ep","type":"double"},
          |            "l_discount":{"cf":"m","col":"di","type":"double"},
          |            "l_returnflag":{"cf":"m","col":"rf","type":"string"},
          |            "l_linestatus":{"cf":"m","col":"ls","type":"string"}}}""".stripMargin
      if (!new File(s"$abDir/_kvmeta.json").exists()) {
        spark.read.parquet(s"$out/lineitem.parquet")
          .select(
            (col("l_orderkey") * 100 + col("l_linenumber")).as("lk"),
            col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_returnflag"), col("l_linestatus"))
          .repartitionByRange(32, col("lk"))
          .write.format("graft-kv").option("catalog", abCat).option("path", abDir)
          .mode("overwrite").save()
      }
      def scanAb(columnar: Boolean): Double = {
        val t0 = System.nanoTime()
        spark.read.format("graft-kv").option("catalog", abCat).option("path", abDir)
          .option("columnar", columnar.toString).load()
          .queryExecution.toRdd.count()
        sampleHeap()
        (System.nanoTime() - t0) / 1e9
      }
      scanAb(columnar = true) // warm the page cache once before timing either
      val colSec = math.min(scanAb(columnar = true), scanAb(columnar = true))
      val rowSec = math.min(scanAb(columnar = false), scanAb(columnar = false))
      System.err.println(f"[stress] kv full-scan columnar=$colSec%.2fs row=$rowSec%.2fs (x${rowSec / colSec}%.2f)")
      f""""kv_columnar_ab":{"columnar_sec":$colSec%.2f,"row_sec":$rowSec%.2f,"speedup":${rowSec / colSec}%.2f}"""
    }

    // Storage-partitioned join A/B: the SAME co-bucketed fact-fact join
    // (per-order lineitem aggregates ⋈ orders, both bucketed 32 ways on
    // the order key) executed (A) with SPJ enabled — zero join
    // exchanges, shards stream in rowkey order so the SMJ sorts elide
    // too — and (B) with `spark.sql.sources.v2.bucketing.enabled=false`,
    // which forces the classic both-sides shuffle. Same tables, same
    // SQL, one conf bit: the delta IS the cost of shuffling the join,
    // which is the dominant exchange of a 100 TB star-schema pipeline.
    // Results must agree row-for-row; plan shapes are asserted so a
    // regression can't silently turn A into B.
    def spjAb(): String = {
      val spjWh = s"$out/_spj_wh"
      spark.conf.set("spark.sql.catalog.stress_spj", "graft.sources.KvSqlCatalog")
      spark.conf.set("spark.sql.catalog.stress_spj.warehouse", spjWh)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      if (!new File(s"$spjWh/default/order_lines/_kvmeta.json").exists()) {
        spark.read.parquet(s"$out/orders.parquet").createOrReplaceTempView("spj_orders_src")
        spark.read.parquet(s"$out/lineitem.parquet").createOrReplaceTempView("spj_lineitem_src")
        spark.sql("DROP TABLE IF EXISTS stress_spj.default.order_facts")
        spark.sql("""CREATE TABLE stress_spj.default.order_facts
                     TBLPROPERTIES ('rowkey'='ok', 'buckets'='32') AS
                     SELECT o_orderkey AS ok, o_orderstatus,
                            CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS total_c
                     FROM spj_orders_src""")
        spark.sql("DROP TABLE IF EXISTS stress_spj.default.order_lines")
        spark.sql("""CREATE TABLE stress_spj.default.order_lines
                     TBLPROPERTIES ('rowkey'='ok', 'buckets'='32') AS
                     SELECT l_orderkey AS ok, count(*) AS n_lines,
                            sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty
                     FROM spj_lineitem_src GROUP BY l_orderkey""")
      }
      def spjQuery(): DataFrame = spark.sql(
        """SELECT /*+ MERGE(l) */ f.o_orderstatus, count(*) AS n,
                  sum(l.qty) AS qty, sum(f.total_c) AS total_c
           FROM stress_spj.default.order_facts f
           JOIN stress_spj.default.order_lines l ON f.ok = l.ok
           GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""")
      def timeSpj(bucketing: Boolean): (Double, Array[org.apache.spark.sql.Row], Int) = {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", bucketing.toString)
        def once(): (Double, Array[org.apache.spark.sql.Row], Int) = {
          val t0 = System.nanoTime()
          val df = spjQuery()
          val rows = df.collect()
          sampleHeap()
          // count only JOIN exchanges (partitioned on the join key `ok`):
          // the aggregation's status-keyed exchange is always there, and
          // the AQE plan string repeats Initial + Final sections
          val joinExchanges = df.queryExecution.executedPlan.toString().linesIterator
            .count(l => l.contains("Exchange hashpartitioning(ok"))
          ((System.nanoTime() - t0) / 1e9, rows, joinExchanges)
        }
        val (a, _, _) = once(); val (b, rows, ex) = once()
        (math.min(a, b), rows, ex)
      }
      val (spjSec, spjRows, spjEx) = timeSpj(bucketing = true)
      val (shufSec, shufRows, shufEx) = timeSpj(bucketing = false)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      require(spjEx == 0, s"SPJ plan regressed: $spjEx join exchanges (expected 0)")
      require(shufEx >= 2, s"shuffle baseline lost its exchanges ($shufEx) — A/B is not measuring the join")
      require(spjRows.sameElements(shufRows),
        "storage-partitioned join disagrees with the shuffled join")
      System.err.println(f"[stress] spj_join spj=$spjSec%.2fs shuffled=$shufSec%.2fs (x${shufSec / spjSec}%.2f)")

      // Point-lookup bucket-pruning A/B on the same 32-bucket fact table:
      // an IN over a handful of order keys (the canonical "fetch these
      // records" access) planned (A) with bucket pruning — only shards
      // tagged with the keys' buckets — vs (B) with the
      // `bucketPointPrune=false` escape hatch, which falls back to range
      // pruning alone (near-useless on a hash layout: every bucket's
      // shards span the keyspace). Same rows both ways, by construction;
      // the metric delta is the shards a 100 TB point read skips.
      def pointKeysSample(): Seq[Long] =
        spark.read.table("stress_spj.default.order_lines")
          .select("ok").limit(500).collect().map(_.getLong(0)).toSeq
          .grouped(37).map(_.head).take(12).toSeq
      val pk = pointKeysSample()
      def timePoint(prune: Boolean): (Double, Set[Long], Long, Long) = {
        def once(): (Double, Set[Long], Long, Long) = {
          val t0 = System.nanoTime()
          val df = spark.read.option("bucketPointPrune", prune.toString)
            .table("stress_spj.default.order_lines")
            .filter(col("ok").isin(pk: _*))
          val rows = df.collect().map(_.getLong(0)).toSet
          val m = df.queryExecution.executedPlan.collectLeaves().head.metrics
          ((System.nanoTime() - t0) / 1e9, rows,
            m.get("kvShardsPrunedBucket").map(_.value).getOrElse(0L),
            m.get("kvShardsTotal").map(_.value).getOrElse(0L))
        }
        val (a, _, _, _) = once(); val (b, rows, pruned, total) = once()
        (math.min(a, b), rows, pruned, total)
      }
      val (ptPruneSec, ptRowsA, ptPruned, ptTotal) = timePoint(prune = true)
      val (ptBaseSec, ptRowsB, ptPrunedOff, _) = timePoint(prune = false)
      require(ptRowsA == ptRowsB && ptRowsA.nonEmpty,
        s"bucket-pruned point lookup disagrees (${ptRowsA.size} vs ${ptRowsB.size})")
      require(ptPruned > 0, "bucket pruning planned nothing out — probe is vacuous")
      require(ptPrunedOff == 0L, "escape hatch did not disable bucket pruning")
      System.err.println(f"[stress] point_lookup bucketPruned=$ptPruneSec%.2fs " +
        f"unpruned=$ptBaseSec%.2fs (x${ptBaseSec / ptPruneSec}%.2f, " +
        f"skipped $ptPruned of $ptTotal shards)")

      f""""spj_ab":{"spj_sec":$spjSec%.2f,"shuffled_sec":$shufSec%.2f,"speedup":${shufSec / spjSec}%.2f}""" + "," +
      f""""point_lookup_ab":{"pruned_sec":$ptPruneSec%.2f,"unpruned_sec":$ptBaseSec%.2f,"speedup":${ptBaseSec / ptPruneSec}%.2f,"shards_skipped":$ptPruned,"shards_total":$ptTotal}"""
    }
  }

  /** BM25 champion-sidecar lifecycle at tier scale (r22, VERDICT r21
    * #1), measured DIRECTLY: this corpus has no selective vocabulary
    * (31 distinct tokens, min df 250 at sf0.1 — verified by df
    * histogram), so the MaxScore regime never dispatches naturally here
    * and a probe-latency A/B would measure the unprunable stop-word
    * fan-out, not the lifecycle the fix targets. The committed claim is
    * the lifecycle costs themselves:
    *
    *  - `sidecar_full_build_sec`: what ANY index append used to impose
    *    on the next MaxScore probe (two corpus passes + salted top-C
    *    windows — grows with the tier);
    *  - `append_merge_sec` − `append_plain_sec`: what an append pays
    *    NOW to carry the sidecar forward (delta+sidecar-sized — flat
    *    across tiers);
    *  - the post-append `ensureChampions` must return a MERGED sidecar
    *    without building (the require), and the natural-dispatch probe
    *    over the grown index stays bit-identical to the exhaustive
    *    plan (rank-safety at tier scale; the forced-MaxScore merged
    *    lineage is additionally spec-pinned at sf0.001 in
    *    ProbeAllSpec).
    *
    * Runs on COPIES of the cached store so reruns never see a pre-grown
    * index. */
  private def championSection(spark: SparkSession, out: String,
                              docs: DataFrame, pDir: String, lDir: String,
                              copies: Int, sampleHeap: () => Unit): String = {
    import queries.{Bm25Store, StreamMaint}
    val pA = s"$out/_bm25_champaa_postings"
    val lA = s"$out/_bm25_champaa_dl"
    Seq(pA, lA).foreach(p => rmrf(new File(p)))
    StreamMaint.copyDir(new File(pDir), new File(pA))
    StreamMaint.copyDir(new File(lDir), new File(lA))
    rmrf(new File(s"$pA/_champ"))
    def sec(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // (a) the full sidecar build — the OLD probe-after-append tax
    val buildSec = sec { Bm25Store.ensureChampions(spark, pA, lA): Unit }
    sampleHeap()
    // a 1000-query batch and a 1024-doc delta, or the whole corpus when
    // it is smaller (sf0.01 has 500 docs)
    val (maxId, nDocs) = {
      val r = docs.agg(max(col("doc_id")), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val nQueries = math.min(1000L, nDocs)
    val deltaDocs = math.min(1024L, nDocs)
    val qs = docs.orderBy(col("doc_id")).limit(nQueries.toInt)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 3).as("terms"))
      .persist()
    qs.count(): Unit
    def probeOnce(): Double = sec {
      Bm25Store.probeAll(spark, pA, lA, qs, topK = 5)
        .queryExecution.toRdd.count(): Unit
    }
    probeOnce(): Unit
    val steady = probeOnce()
    // (b) append with the sidecar present: table writes + incremental merge
    val delta = docs.orderBy(col("doc_id")).limit(deltaDocs.toInt)
      .select((col("doc_id") + lit(maxId + 1L)).as("doc_id"), col("text"))
    var nApp = 0L
    val appendMergeSec = sec {
      nApp = Bm25Store.maintainBatch(spark, delta, pA, lA)
    }
    require(nApp == deltaDocs, s"append delta indexed $nApp docs, expected $deltaDocs")
    require(Bm25Store.readChampMeta(Bm25Store.ensureChampions(spark, pA, lA))
        .exists(_.built == "merged"),
      "the sidecar must be MERGED at append time, not rebuilt by the probe")
    val afterFirst = probeOnce()
    val afterSteady = probeOnce()
    val rankSafe = if (copies > 30) "null" else {
      val a = Bm25Store.probeAll(spark, pA, lA, qs, topK = 5)
        .collect().map(_.toString).toSeq
      val b = Bm25Store.probeAllExhaustive(spark, pA, lA, qs, topK = 5)
        .collect().map(_.toString).toSeq
      require(a == b,
        "probe diverged from the exhaustive plan after append at tier scale")
      "true"
    }
    // (c) the same delta appended WITHOUT a sidecar: the plain write cost
    val pB = s"$out/_bm25_champaa2_postings"
    val lB = s"$out/_bm25_champaa2_dl"
    Seq(pB, lB).foreach(p => rmrf(new File(p)))
    StreamMaint.copyDir(new File(pDir), new File(pB))
    StreamMaint.copyDir(new File(lDir), new File(lB))
    rmrf(new File(s"$pB/_champ"))
    val appendPlainSec = sec {
      Bm25Store.maintainBatch(spark, delta, pB, lB): Unit
    }
    qs.unpersist(): Unit
    sampleHeap()
    val row = f""""bm25_probe_after_append":{"regime":"lifecycle_direct","delta_docs":$deltaDocs,"n_queries":$nQueries,"sidecar_full_build_sec":$buildSec%.2f,"append_merge_sec":$appendMergeSec%.2f,"append_plain_sec":$appendPlainSec%.2f,"merge_overhead_sec":${appendMergeSec - appendPlainSec}%.2f,"probe_steady_sec":$steady%.2f,"probe_after_append_first_sec":$afterFirst%.2f,"probe_after_append_steady_sec":$afterSteady%.2f,"merged":true,"rank_safe":$rankSafe}"""
    System.err.println(s"[stress] $row")
    row
  }

  private def generate(spark: SparkSession, base: String, out: String,
                       copies: Int): Unit = {
    new File(out).mkdirs()
    def replicate(table: String)(tweak: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      val all = (0 until copies).map(i => tweak(src, i)).reduce(_.union(_))
      all.repartition(32).write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    replicate("documents") { (df, i) =>
      // materialize the token array FIRST (split inside the transform
      // lambda would re-tokenize per element — O(tokens²))
      df.withColumn("toks", split(trim(col("text")), graft.functions.Text.WhitespaceClass))
        .withColumn("text",
          when(length(trim(col("text"))) === 0, col("text")).otherwise(
            concat_ws(" ", transform(col("toks"),
              (t, ix) => when(ix % 5 === 4, concat(t, lit(s"_c$i"))).otherwise(t)))))
        .drop("toks")
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        .withColumn("n_chars", length(col("text")))
    }
    replicate("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
        .withColumn("embedding", transform(col("embedding"),
          (x, ix) => when(ix === 0, x + lit(i * 0.001f)).otherwise(x)))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
    }
    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
    }
    // events: offset BOTH ids — offsetting user_id keeps attribution
    // pairs within copies, so q90's join output grows linearly (10×)
    // instead of quadratically via spurious cross-copy user collisions.
    // ts reads as long (nanosAsLong) and lands as plain INT64, which
    // Tables.events converts identically to the real NANOS column.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * 1000000L))
        .withColumn("user_id", col("user_id") + lit(i * 1000000L))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/_done"),
      replicaTables.mkString(",").getBytes("UTF-8"))
  }
}
