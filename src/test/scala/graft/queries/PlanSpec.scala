package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape assertions: the optimizations the engine claims
  * (pushdown, pruning, broadcast, partial aggregation, top-k) must be
  * visible in `explain`, not just hoped for. These are the properties
  * that decide whether a plan survives a 100 TB scale-up. */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q2: filters reach the parquet scan as PushedFilters") {
    val p = plan(Relational.q2ForecastRevenue.fn(spark, d))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate band must be pushed:\n$p")
  }

  test("q2: column pruning — scan reads only referenced columns") {
    val p = plan(Relational.q2ForecastRevenue.fn(spark, d))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"scan must not read unreferenced columns: $readSchema")
  }

  test("q3/q4: dimension joins broadcast; fact-fact join shuffles") {
    val p3 = plan(Relational.q3ShippingPriority.fn(spark, d))
    assert(p3.contains("BroadcastHashJoin"), p3)
    val p4 = plan(Relational.q4StarJoin.fn(spark, d))
    assert(p4.contains("BroadcastHashJoin"))
    assert(!p4.contains("SortMergeJoin"), "star join must not shuffle dims")
  }

  test("q1: aggregation is partial/final (map-side combine)") {
    val p = plan(Relational.q1PricingSummary.fn(spark, d))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"expect partial aggregation before the shuffle:\n$p")
  }

  test("q10: global top-k plans as TakeOrderedAndProject, not full sort") {
    val p = plan(Relational.q10TopK.fn(spark, d))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q5/q6: semi and anti joins broadcast the key side") {
    assert(plan(Relational.q5SemiJoin.fn(spark, d)).contains("BroadcastHashJoin LeftSemi"))
    assert(plan(Relational.q6AntiJoin.fn(spark, d)).contains("BroadcastHashJoin LeftAnti"))
  }

  test("q50: whole-stage codegen covers the cosine scoring") {
    val df = Similarity.q50CosineTopK.fn(spark, d)
    val cg = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(2000))
    val p = plan(df)
    assert(p.contains("cosine_sim") || p.toLowerCase.contains("cosinesimilarity"),
      s"fused expression must appear in plan:\n$p")
  }

  test("q19: single lineitem scan (window replaces the self-join aggregate)") {
    val p = plan(Subqueries.q19AvgQtyRevenue.fn(spark, d))
    // formatted mode: each scan's file path appears on its Location line
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"lineitem must be scanned once, saw $lineitemScans:\n$p")
    assert(p.contains("Window"), "per-part aggregate must run as a window")
  }

  test("q37: the fact scan feeds a partial aggregate — no fact-row window sort") {
    // r21 shape: the one full-data pass partial-aggregates
    // (l_returnflag, l_quantity) counts map-side BEFORE any exchange, so
    // the windows (cumulative rank intervals) run over ~|groups × values|
    // partial rows, never the fact table — the r20 one-Window-pass
    // invariant protected a per-stratum sort of ALL fact rows, the shape
    // this round removed (its scaladoc's own 100 TB straggler caveat).
    val p = plan(Extras.q37ExactQuantiles.fn(spark, d))
    val lines = p.linesIterator.toSeq
    // formatted plans number operators bottom-up: (1) is the scan, so
    // (2) — the scan's direct consumer — must be the partial
    // HashAggregate, i.e. aggregation happens BELOW the first exchange
    val scanNo = lines.collectFirst {
      case l if l.trim.matches("""\(\d+\) Scan parquet\s*""") =>
        l.trim.drop(1).takeWhile(_ != ')').toInt
    }
    assert(scanNo.contains(1), s"expected the scan at node (1):\n$p")
    assert(lines.exists(_.trim.startsWith("(2) HashAggregate")),
      s"q37's scan must feed a partial (flag, quantity) count aggregate, not a window sort:\n$p")
    assert(lines.exists(_.trim.matches("""\(\d+\) Window""")), p)
  }

  test("q54: int8 scoring stays inside whole-stage codegen") {
    val df = Similarity.q54QuantizedTopK.fn(spark, d)
    val cg = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(2000))
  }

  test("q24: as-of join is one shuffle (window), no nested-loop explosion") {
    val p = plan(EventsTime.q24AsofJoin.fn(spark, d))
    assert(p.contains("Window"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not explode:\n$p")
  }

  test("q94: approx quantiles plan has NO Window/Sort — partial aggregation only") {
    val p = plan(Extras.q94QuantilesApprox.fn(spark, d))
    assert(!p.linesIterator.exists(l => l.trim.matches("""\(\d+\) Window""")),
      s"the scale twin must not sort strata in a window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"), p)
  }

  test("q95: grouped aggregation pushes into the KV scan") {
    val p = plan(KvQueries.q95KvGroupedAgg.fn(spark, d))
    assert(p.contains("PushedAggregates"), s"aggregates must push:\n$p")
    assert(p.contains("PushedGroupBy: [l_returnflag]"), s"grouping must push:\n$p")
  }

  test("q96/q97: extended filters and the rowkey prefix are pushed, no residual Filter") {
    val p96 = plan(KvQueries.q96KvFilterExtras.fn(spark, d))
    assert(p96.contains("Not(EqualTo(l_returnflag,N))") &&
      p96.contains("StringEndsWith(l_linestatus,F)"),
      s"<> and suffix must be in PushedFilters:\n$p96")
    // a prefix read this small runs on the driver, whose scan
    // description (not a BatchScan line) names the pushed filters
    val q97 = KvQueries.q97KvPrefixSeek.fn(spark, d)
    val p97 = plan(q97)
    val scan97 = graft.sources.PlannedKvScan(q97).scan.description()
    assert(scan97.contains("StringStartsWith(rk,en#)"), s"prefix must push:\n$scan97")
    // both claims are exact: no Filter node may sit above either scan,
    // in the physical plan nor, where a driver read's strategy could
    // fold one into its local rows, in the optimized plan
    assert(!p96.linesIterator.exists(l => l.trim.matches("""\(\d+\) Filter""")),
      s"q96 must not re-filter above the scan:\n$p96")
    assert(!p97.linesIterator.exists(l => l.trim.matches("""\(\d+\) Filter""")),
      s"q97 must not re-filter above the scan:\n$p97")
    assert(q97.queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, s"q97 must not re-filter above the scan:\n${q97.queryExecution.optimizedPlan}")
  }

  test("q114: both quantizer levels join as broadcasts — the corpus never SMJ-shuffles for assignment") {
    graft.functions.CosineSimilarity.register(spark)
    val p = plan(Similarity.q114SemanticDedupHier.fn(spark, d))
    // coarse routing is a broadcast nested loop (crossJoin of the c-row
    // table); the fine competition joins the broadcast routing table on
    // gid — if either ever degrades to a SortMergeJoin, assignment
    // starts shuffling the corpus per level and the Θ(n^1.25) claim dies
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"coarse routing must broadcast the centroid table:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("gid"),
      s"fine competition must broadcast-join on gid:\n$p")
    // no SHUFFLED join may key on gid: the cell-keyed dedup self-join
    // and the tiny final left-outer may SMJ in the static plan (AQE
    // broadcasts the latter at runtime), but an SMJ keyed on gid would
    // mean assignment shuffles the corpus per level. Walk the formatted
    // detail blocks: keys lines belong to the header above them.
    var inSmj = false
    var smjOnGid = false
    p.linesIterator.foreach { l =>
      val t = l.trim
      if (t.matches("""\(\d+\) \w.*""")) inSmj = t.contains("SortMergeJoin")
      else if (inSmj && t.contains("keys") && t.contains("gid")) smjOnGid = true
    }
    assert(!smjOnGid, s"no sort-merge join may key on gid:\n$p")
  }

  /** Shared walk: true iff some SortMergeJoin's keys mention `key` —
    * the formatted detail blocks attribute keys lines to the header
    * operator above them. */
  private def smjKeyedOn(p: String, key: String): Boolean = {
    var inSmj = false
    var hit = false
    p.linesIterator.foreach { l =>
      val t = l.trim
      if (t.matches("""\(\d+\) \w.*""")) inSmj = t.contains("SortMergeJoin")
      else if (inSmj && t.contains("keys") && t.contains(key)) hit = true
    }
    hit
  }

  test("q53: adaptive IVF assignment joins broadcast — the corpus never SMJ-shuffles on gid or cell") {
    graft.functions.CosineSimilarity.register(spark)
    val p = plan(Similarity.ivfAnn(spark, d, nProbe = 4))
    // coarse routing crossJoins the broadcast c-row table; the fine
    // competition and the probe→candidate join are broadcast hash
    // joins. An SMJ keyed on gid would mean the index build shuffles
    // the corpus per quantizer level; one keyed on cell would mean the
    // probe shuffles the corpus per query batch — either kills the
    // Θ(n^1.25)-build / flat-probe claim.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"coarse routing must broadcast the centroid table:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"fine competition and probe joins must broadcast:\n$p")
    assert(!smjKeyedOn(p, "gid"), s"no sort-merge join may key on gid:\n$p")
    assert(!smjKeyedOn(p, "cell"), s"no sort-merge join may key on cell:\n$p")
  }

  test("q114: past the centroid ceiling the fine-table broadcast hint drops; results are identical") {
    graft.functions.CosineSimilarity.register(spark)
    val dflt = Similarity.q114SemanticDedupHier.fn(spark, d).collect().toSeq
    spark.conf.set("graft.centroidBroadcastMaxRows", "0")
    try {
      val p = plan(Similarity.q114SemanticDedupHier.fn(spark, d))
      // the gid-keyed fine competition must now plan WITHOUT a
      // broadcast of the routing table — i.e. some shuffled join keys
      // on gid (the shuffle-safe fallback the scaladoc promises) —
      // while the c-row coarse crossJoins stay broadcast
      assert(smjKeyedOn(p, "gid") || p.contains("ShuffledHashJoin"),
        s"past the ceiling the fine competition must shuffle on gid:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"the coarse crossJoins must stay broadcast:\n$p")
      val dropped = Similarity.q114SemanticDedupHier.fn(spark, d).collect().toSeq
      assert(dropped == dflt, "hint choice must never change the labeling")
    } finally spark.conf.unset("graft.centroidBroadcastMaxRows")
  }

  test("q34: the language scoring array is bound once, not evaluated per field read") {
    val p = plan(TextOps.q34LangId.fn(spark, d))
    val n = "array_sort".r.findAllMatchIn(p).size
    // pred_lang reads two fields of the argmax winner; binding the
    // scored array_sort to one projected struct keeps the per-row sort
    // to a single evaluation (round 13 — the r12 plan evaluated it
    // twice, roughly doubling q34's per-row work)
    assert(n == 1, s"array_sort must appear exactly once in the plan (found $n):\n$p")
  }
}
