package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - Brute-force cosine top-k: the exactness baseline. The query set is
  *    broadcast; the corpus streams once through the codegen'd
  *    cosine_sim expression (fused dot+norms loop).
  *  - LSH-bucketed ANN (q52) and IVF ANN (q53): the two standard
  *    sub-quadratic scale paths; only bucket/cell candidates rescored.
  *  - Near-dup pairs by cosine threshold: self-join, oracle-checked.
  *
  * Dot products are computed in DOUBLE with identical left-to-right
  * accumulation in both engines, so scores are bit-identical and
  * orderings/thresholds cannot diverge.
  */
object Similarity {

  /** Composable (higher-order-function) cosine — kept as the reference
    * implementation the codegen'd CosineSimilarity expression is tested
    * against; both accumulate left-to-right in double. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Guard on the non-production exactness anchors (q50 O(n·q), q51
    * O(n²), q103 Θ(n^1.5) flat SemDeDup): they exist to pin the
    * scale-path twins to exact/reference answers at GATE scale, and are
    * scale-killers — or, for q103, unbounded-cell straggler bait — if
    * ever pointed at a production corpus. Above `graft.exactAnchorMaxRows`
    * (default 100k — 50× any gate fixture, far below any real corpus)
    * they refuse to run unless `graft.allowExactAnchors=true` explicitly
    * acknowledges the cost. `twinHint` names the production path the
    * error steers to. */
  private[graft] def fenceExactAnchor(s: SparkSession, emb: DataFrame, name: String,
                                      twinHint: String = "run the sub-quadratic twin (q52-q55) instead"): DataFrame = {
    if (!s.conf.get("graft.allowExactAnchors", "false").toBoolean) {
      val maxRows = s.conf.get("graft.exactAnchorMaxRows", "100000").toLong
      val n = emb.count() // parquet metadata count — no data scan
      require(n <= maxRows,
        s"$name is an exactness anchor fenced at $maxRows rows " +
          s"(corpus has $n); $twinHint, or " +
          "set graft.allowExactAnchors=true to force")
    }
    emb
  }

  /** Brute-force exact top-5 cosine neighbors for query vectors
    * vec_id < 20. The tiny query side is broadcast; ranking is a window
    * over (query, score desc). */
  val q50CosineTopK: Q = Q(
    "q50_cosine_topk",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = fenceExactAnchor(s, Tables.embeddings(s, d), "q50_cosine_topk")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
                expr("cosine_sim(q_emb, embedding)").as("cos"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
                 FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               list_dot_product(q.q_emb, CAST(e.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM scored)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    doc = "brute-force cosine top-k (broadcast queries)")

  /** Near-duplicate vector pairs: cosine >= 0.9 over the full corpus
    * via a self-join (the exact baseline; q52/q53 are the sub-quadratic
    * paths). Oracle mirrors the same join — exact because both engines
    * accumulate the same doubles in the same order. */
  val q51CosineNearDup: Q = Q(
    "q51_cosine_near_dup",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val e = fenceExactAnchor(s, Tables.embeddings(s, d), "q51_cosine_near_dup")
        .select(col("vec_id"), col("embedding"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
                expr("cosine_sim(a.embedding, b.embedding)").as("cos"))
        .filter(col("cos") >= 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_r
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.emb, b.emb) /
            (sqrt(list_dot_product(a.emb, a.emb)) *
             sqrt(list_dot_product(b.emb, b.emb))) >= 0.9
      ORDER BY id_a, id_b"""),
    doc = "embedding-cosine near-dup pairs")

  /** Multi-table LSH approximate NN: L=4 hash tables × k=4 deterministic
    * random hyperplanes each → 4-bit sign bucket per table; candidates =
    * union of same-bucket vectors across tables; exact cosine rescoring
    * of candidates only. At 100 TB the per-table bucket join replaces
    * the full cross product (corpus scanned once per table, shuffled on
    * (table, bucket)). Approximate vs brute force (ScalaTest measures
    * recall) yet fully DETERMINISTIC — q52's oracle bakes the plane
    * matrix into SQL and hash-checks the whole pipeline. */
  /** Parameterized LSH ANN (`nTables` of the 4 hash tables emitted by
    * `lsh_buckets`): candidate sets are NESTED in nTables (each table
    * adds a union term), so recall@5 vs brute force is provably
    * non-decreasing — OperatorSpec sweeps 1/2/4 and asserts it. */
  def lshAnn(s: SparkSession, d: String, nTables: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    graft.functions.LshBuckets.register(s)
    val emb = Tables.embeddings(s, d)
    // lsh_buckets = native expression: plane matrix precomputed at plan
    // time, fused loop (the composable 4×4×64-term projection overflows
    // codegen and drops to interpretation)
    val bucketed = emb
      .select(col("vec_id"), col("embedding"), posexplode(expr("lsh_buckets(embedding)")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
      .filter(col("tbl") < nTables)
    val queries = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("tbl"), col("bucket"))
    val cands = bucketed.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id").as("n_id"), col("embedding"))
      .dropDuplicates("q_id", "n_id") // union across tables
    val scored = cands.select(col("q_id"), col("n_id"),
      expr("cosine_sim(q_emb, embedding)").as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The oracle-side replay of `lsh_buckets`: the hyperplane matrix
    * baked into SQL as exact decimal literals (every component is a
    * dyadic rational — see [[graft.functions.LshBuckets.planeComponent]])
    * and one UNION ALL branch per hash table computing the 4-bit sign
    * bucket. Shared by q52 (ANN) and q55 (near-dup pairs) so the two
    * oracles can never drift from each other or from the expression. */
  private val lshBandSelects: Seq[String] = {
    val tables = 4
    val planes = 4
    val dim = graft.functions.LshBuckets.BakedDim // one constant, both engines
    def planeLit(t: Int, b: Int): String =
      (0 until dim).map { j =>
        val v = graft.functions.LshBuckets.planeComponent(t * planes + b, j)
        new java.math.BigDecimal(v).toPlainString
      }.mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      (0 until planes).map(b =>
        s"(CASE WHEN list_dot_product(emb, ${planeLit(t, b)}) >= 0 THEN ${1 << b} ELSE 0 END)")
        .mkString("\n               + ")
    (0 until tables).map(t =>
      s"SELECT vec_id, emb, $t AS tbl,\n               ${bucketExpr(t)} AS bucket FROM dbl")
  }

  /** q52's oracle bakes the hyperplane matrix into the SQL (see
    * [[lshBandSelects]]), replays the sign buckets per table, the
    * bucket join, and the exact cosine rescoring. Even the
    * "random"-hyperplane index is hash-checked. */
  val q52LshAnn: Q = {
    val bandSelects = lshBandSelects
    Q(
      "q52_lsh_ann",
      (s, d) => lshAnn(s, d, nTables = 4),
      Some(s"""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      bucketed AS (
        ${bandSelects.mkString("\n        UNION ALL\n        ")}),
      cands AS (
        SELECT DISTINCT q.vec_id AS q_id, x.vec_id AS n_id
        FROM bucketed q JOIN bucketed x
          ON q.tbl = x.tbl AND q.bucket = x.bucket
        WHERE q.vec_id < 20 AND x.vec_id <> q.vec_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM cands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN dbl ne ON ne.vec_id = c.n_id),
      ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM scored)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
      doc = "multi-table LSH (random hyperplane) ANN")
  }

  /** Deterministic md5-ordered centroid sample — the shared quantizer
    * seed of q53/q103/q114: the k corpus vectors smallest by
    * (md5(vec_id) hex, vec_id), numbered cid = 1..k in that order.
    * Pseudo-random spread, independent of partitioning/parallelism, and
    * replayable by an external SQL engine
    * (`row_number() OVER (ORDER BY md5(vec_id), vec_id)`) — which is
    * what makes the ANN/SemDeDup full-pipeline oracles possible; an
    * iterative k-means fit would make cell boundaries depend on cluster
    * layout. cid numbering is a row_number window OVER THE
    * ALREADY-LIMITED k-row table (round 14 — the zipWithIndex-over-
    * TakeOrdered shortcut it replaces relied on the PHYSICAL plan
    * preserving sort order in the RDD, an implementation detail a
    * planner change could silently break; the window is the logical
    * guarantee, and its single-partition sort over k rows costs the
    * same single-task gather the top-k already pays). The gather bounds
    * k in practice (~10⁶ centroids / tens of MB on the TakeOrdered
    * path); past that, sample per-partition and merge, which no
    * gate-scale corpus needs. */
  private[graft] def md5CentroidSample(s: SparkSession, emb: DataFrame,
                                       k: Long): DataFrame = {
    // k rides through limit(Int); at B=256 an overflow would need a
    // ~5×10¹¹-vector corpus — refuse loudly instead of truncating
    require(k > 0 && k <= Int.MaxValue,
      s"centroid sample size $k out of range; shard the corpus or raise B")
    emb
      .select(md5(col("vec_id").cast("string")).as("h"), col("vec_id"),
        col("embedding").as("cemb"))
      .orderBy(col("h"), col("vec_id")).limit(k.toInt)
      .select(row_number().over(
          Window.orderBy(col("h"), col("vec_id"))).as("cid"),
        col("cemb"))
  }

  /** Fine→coarse routing table (gid, cid, cemb): each fine centroid
    * attaches to its max-cosine coarse centroid, ties to the smallest
    * gid — k·c work on k rows, negligible, broadcast back for the
    * per-coarse-cell fine competition. */
  private def routeCentroids(cent: DataFrame, coarse: DataFrame): DataFrame =
    cent.crossJoin(broadcast(coarse))
      .select(col("cid"), col("cemb"), col("gid"),
        call_function("cosine_sim", col("cemb"), col("gemb")).as("cos"))
      .groupBy(col("cid"))
      .agg(first(col("cemb")).as("cemb"),
        max_by(col("gid"), struct(col("cos"), (lit(0) - col("gid")).as("ng")))
          .as("gid"))
      .select(col("gid"), col("cid"), col("cemb"))

  /** The fine-centroid table grows with the corpus at bounded cell
    * size (k = n/256 → ~10⁹-vector corpora put k near 10⁶–10⁷ rows,
    * GBs of 64-dim floats), so the stage-2 broadcast hint is applied
    * only under `graft.centroidBroadcastMaxRows` (default 10⁶). Past
    * it the gid-keyed equi-join simply shuffles — shuffle-safe by
    * construction (the corpus side is keyed on gid either way), unlike
    * the coarse crossJoins, whose c ≈ √k side stays broadcast-sized
    * for any feasible corpus. */
  private def maybeBroadcastCentroids(df: DataFrame, k: Long): DataFrame = {
    val max = df.sparkSession.conf
      .get("graft.centroidBroadcastMaxRows", "1000000").toLong
    if (k <= max) broadcast(df) else df
  }

  /** Two-level max-cosine assignment: vector → nearest coarse centroid
    * (n·c evaluations) → nearest FINE centroid within that coarse cell
    * (n·k/c expected). Every argmax breaks ties by smallest centroid id
    * (max_by over (cos, -id) ≡ row_number ORDER BY cos DESC, id — the
    * rule every oracle replays). Shared by q53's IVF index build and
    * q114's hierarchical SemDeDup. Returns (vec_id, embedding, cell). */
  private[queries] def assignRouted(emb: DataFrame, coarse: DataFrame,
                                    centRouted: DataFrame, k: Long): DataFrame = {
    // stage 1: vector → nearest coarse centroid (n·c evaluations)
    val routed = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"), col("gid"),
        call_function("cosine_sim", col("embedding"), col("gemb")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        max_by(col("gid"), struct(col("cos"), (lit(0) - col("gid")).as("ng")))
          .as("gid"))
    // stage 2: only the routed coarse cell's fine centroids compete
    // (gid-keyed join against the routing table, broadcast when small)
    routed.join(maybeBroadcastCentroids(centRouted, k), "gid")
      .select(col("vec_id"), col("embedding"), col("cid"),
        call_function("cosine_sim", col("embedding"), col("cemb")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        max_by(col("cid"), struct(col("cos"), (lit(0) - col("cid")).as("nc")))
          .as("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** `cent` must be (cid, cemb) with cid densely numbered so the first
    * c rows form the coarse level (q114's entry point). */
  private def hierAssign(emb: DataFrame, cent: DataFrame, c: Long,
                         k: Long): DataFrame = {
    val coarse = cent.filter(col("cid") <= c)
      .select(col("cid").as("gid"), col("cemb").as("gemb"))
    assignRouted(emb, coarse, routeCentroids(cent, coarse), k)
  }

  /** A built IVF index: the coarse router (gid, gemb), the fine
    * routing table (gid, cid, cemb), and the assigned corpus
    * (vec_id, embedding, cell). Persist `centRouted` and `assigned`
    * to amortize the build across probe batches. */
  final case class IvfIndex(coarse: DataFrame, centRouted: DataFrame,
                            assigned: DataFrame, nlist: Long,
                            nVectors: Long)

  /** IVF (inverted-file) ANN: the corpus is partitioned into cells
    * around a coarse quantizer; each query probes its nProbe best cells
    * and rescores only those candidates with exact cosine — the other
    * standard scale path next to LSH (q52).
    *
    * nlist is ADAPTIVE with BOUNDED CELLS (round 13 — replaces the
    * fixed k=16 literal whose cells grew as n/16, degrading every probe
    * toward a partitioned scan): k = max(16, ⌈n/256⌉), so cell
    * population stays ~256 vectors as the corpus grows and a query's
    * probe cost is nProbe·256 rescores FOREVER — flat, not linear, in
    * corpus size. Assignment pays for that cell count the way q114
    * does: a coarse router of c = ⌈√k⌉ centroids (a PREFIX of the same
    * md5-ordered sample — no second sampling rule) keeps index build at
    * n·(c + k/c) ≈ Θ(n^1.25) cosine evaluations instead of the flat
    * n·k = Θ(n²/256). Assignment is broadcast-crossJoin +
    * map-side-combined argmax — NOT k literal arrays in one codegen'd
    * expression, which would blow the JVM method limit at adaptive k.
    *
    * The index is split from the probe ([[ivfIndex]] / [[ivfProbe]])
    * because that is the real usage shape — build once, probe per
    * query — and it lets the stress harness measure the two costs
    * separately: build grows Θ(n^1.25), probe stays flat. */
  def ivfIndex(s: SparkSession, d: String): IvfIndex =
    ivfIndexFrom(s, Tables.embeddings(s, d))

  /** [[ivfIndex]] over an arbitrary (vec_id, embedding) relation — the
    * entry point for corpora that are not parquet directories (e.g. a
    * versioned graft-kv table pinned at a manifest version). */
  private[graft] def ivfIndexFrom(s: SparkSession, emb: DataFrame): IvfIndex = {
    graft.functions.CosineSimilarity.register(s)
    // Bounded scalar collect: corpus count → deterministic nlist.
    val n = emb.count()
    val k = math.max(16L, math.ceil(n / 256.0).toLong)
    val c = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
    val cent = md5CentroidSample(s, emb, k)
    val coarse = cent.filter(col("cid") <= c)
      .select(col("cid").as("gid"), col("cemb").as("gemb"))
    val centRouted = routeCentroids(cent, coarse)
    IvfIndex(coarse, centRouted, assignRouted(emb, coarse, centRouted, k), k, n)
  }

  /** Probe side: rank fine cells per query in the SAME two-level order
    * the assignment uses — coarse rank first (query → coarse centroids
    * by cosine), then cosine among that coarse cell's fine centroids.
    * Ranking by DIRECT query→fine cosine instead is the natural flat
    * rule but mismatches greedy assignment: a near-identical neighbor
    * is assigned to the best fine cell WITHIN its routed coarse cell,
    * which need not be among the query's globally-closest fine
    * centroids — measured at the 100× tier, the flat probe order
    * dropped recall@5 to 0.35 while the route-consistent order keeps
    * the epsilon-twin neighbors in the very first probed cell (the
    * stress harness asserts recall ≥ 0.6 vs exact ground truth).
    * The order is total over all k cells, so probe sets stay NESTED in
    * nProbe: candidates grow monotonically, recall@5 is non-decreasing,
    * and nProbe = nlist is exhaustive — OperatorSpec sweeps 1/4/k. */
  /** The probe-cell ranking alone — (q_id, cell) for each query's
    * nProbe best cells in the assignment-consistent two-level order.
    * Shared by [[ivfProbe]] (exact rescoring of every cell candidate)
    * and q122's IVF-PQ probe (ADC pre-scoring from PQ codes). */
  private[queries] def probeCells(s: SparkSession, idx: IvfIndex,
                                  queries: DataFrame, nProbe: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    // query → coarse ranking (|q|·c evaluations)
    val wg = Window.partitionBy(col("q_id")).orderBy(col("gcos").desc, col("gid"))
    val qg = queries.crossJoin(broadcast(idx.coarse))
      .select(col("q_id"), col("q_emb"), col("gid"),
        call_function("cosine_sim", col("q_emb"), col("gemb")).as("gcos"))
      .withColumn("grk", row_number().over(wg))
      .select(col("q_id"), col("q_emb"), col("gid"), col("grk"))
    // all k fine cells per query, ordered (coarse rank, cosine, cid)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("grk"), col("cos").desc, col("cid"))
    idx.centRouted.join(broadcast(qg), "gid")
      .select(col("q_id"), col("cid"), col("grk"),
        call_function("cosine_sim", col("q_emb"), col("cemb")).as("cos"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nProbe)
      .select(col("q_id"), col("cid").as("cell"))
  }

  def ivfProbe(s: SparkSession, idx: IvfIndex,
               queries: DataFrame, nProbe: Int, topK: Int = 5): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val probes = probeCells(s, idx, queries, nProbe)
    val cands = idx.assigned.join(broadcast(probes), Seq("cell"))
      .join(broadcast(queries), Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
    val scored = cands.select(col("q_id"), col("vec_id").as("n_id"),
      expr("cosine_sim(q_emb, embedding)").as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** [[ivfProbeAll]]'s salted-regime fan-out S: 16 cut the 100x
    * audit's partition max/median ratio from 3.18 to 1.43. */
  private[graft] val ProbeSaltFactor = 16

  /** [[ivfProbeAll]]'s bytes-per-query-row estimate for a relation with
    * no row-count statistic — the calibration behind the 500k-row
    * (≈ 150 MB) broadcast default. */
  private val ProbeQueryRowBytes = 300L

  /** [[ivfProbe]] for a LARGE query relation — the batched-retrieval
    * shape a production pipeline runs (millions of queries, one plan),
    * same math, same output. [[ivfProbe]] broadcasts the query side
    * twice (fine for a handful of exemplars, fatal at millions);
    * here only the genuinely-small index relations are broadcast —
    * `coarse` (c ≈ √k rows) into the query routing and `centRouted`
    * (k rows) into the cell ranking — while the query stream itself
    * stays distributed end to end:
    *
    *  - route: queries × broadcast(coarse) → per-query coarse rank
    *    (ONE shuffle, the q_id window; the following cell-rank window
    *    reuses the same q_id partitioning, so no second exchange);
    *  - probes carry `q_emb` forward, so candidates never join back to
    *    the query relation;
    *  - candidates: `assigned ⋈ probes` — the one corpus-sized join,
    *    sized by nProbe·|Q| probe rows against the assignment table,
    *    never |Q|·n;
    *  - per-query top-k: one more q_id window over the candidate
    *    stream.
    *
    * The candidates join is SKEW-AWARE (r20). The r19 shape shuffled
    * `assigned` on `cell`, and the measured per-cell candidate load is
    * badly skewed (100× audit: hottest cell 783k candidate pairs vs a
    * 7.1k median — ratio 110; `ivf_cell_skew` in the `probe` stress
    * rows): queries are corpus-shaped, so a populous cell draws
    * probes AND holds vectors — load grows ~quadratically in cell
    * population. At 64 local partitions hash-bundling masks it
    * (task ratio 3.2), but at cluster scale, where partitions ≫
    * cells, the task ratio converges to the CELL ratio — a hot cell
    * is one straggler task. Two regimes, both exact:
    *
    *  - probes ≤ `graft.ivfProbeBroadcastMaxRows` (default 500k rows
    *    ≈ 150 MB of (q_id, q_emb, cell)): BROADCAST the probe side —
    *    the corpus never shuffles at all; every assigned partition
    *    hash-joins locally and skew cannot exist. This covers every
    *    committed workload (10k queries × nProbe 4 = 40k rows).
    *  - larger probe relations: SALT the join key — `assigned` gains
    *    `pmod(hash(vec_id), S)` (uniform within each cell by
    *    construction), probes explode ×S ([[ProbeSaltFactor]]), and
    *    the join keys on (cell, salt): the hottest
    *    cell's candidates spread across S tasks, cutting the
    *    straggler ratio by ~S at the cost of an S×-replicated (but
    *    |Q|-sized, corpus-free) probe shuffle.
    *
    * No driver loop, no collect: #queries only widens the shuffles.
    *
    * Regime dispatch is PLAN-TIME (r21): the r20 shape ran an eager
    * `queries.count()` per call — a full Spark job even for plan-only
    * inspection, a second evaluation of the query relation on top of
    * the join's own (and, for a non-deterministic input, a regime
    * decided on different data than the join saw), contradicting the
    * "no collect" contract above. Both regimes are exact, so the
    * decision only needs an ESTIMATE: the caller's `nQueriesHint` when
    * it knows its batch size (every production call site does), else
    * Catalyst's row-count statistic, else rows estimated from the
    * optimized plan's `sizeInBytes` at [[ProbeQueryRowBytes]] per row
    * (300 B — exactly the calibration behind the 500k-row default
    * ≈ 150 MB), so one row threshold governs every
    * path and the conf-forced regimes (`...BroadcastMaxRows = 0`)
    * keep working. A misestimate can only pick the salted regime for
    * a small batch (slower, never wrong); no code path runs an extra
    * action. */
  def ivfProbeAll(s: SparkSession, idx: IvfIndex, queries: DataFrame,
                  nProbe: Int, topK: Int = 5,
                  nQueriesHint: Option[Long] = None): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val probes = probesAll(idx, queries, nProbe)
    val bcastMax =
      s.conf.get("graft.ivfProbeBroadcastMaxRows", "500000").toLong
    val nQueriesEst: Long = nQueriesHint
      .orElse(queries.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong))
      .getOrElse(
        (queries.queryExecution.optimizedPlan.stats.sizeInBytes / ProbeQueryRowBytes).toLong)
    val useBroadcast = nQueriesEst * nProbe <= bcastMax
    val joined =
      if (useBroadcast)
        idx.assigned.join(broadcast(probes), Seq("cell"))
      else {
        idx.assigned
          .withColumn("salt", pmod(hash(col("vec_id")), lit(ProbeSaltFactor)))
          .join(probes.withColumn("salt",
            explode(sequence(lit(0), lit(ProbeSaltFactor - 1)))), Seq("cell", "salt"))
      }
    val cands = joined.filter(col("vec_id") =!= col("q_id"))
    val scored = cands.select(col("q_id"), col("vec_id").as("n_id"),
      expr("cosine_sim(q_emb, embedding)").as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The distributed (q_id, q_emb, cell) probe relation behind
    * [[ivfProbeAll]]: route every query through broadcast(coarse) →
    * broadcast(centRouted) and keep its top-nProbe cells. Shared with
    * [[ivfCellLoad]] so the skew audit measures exactly the relation
    * the production probe shuffles. */
  private def probesAll(idx: IvfIndex, queries: DataFrame,
                        nProbe: Int): DataFrame = {
    val wg = Window.partitionBy(col("q_id")).orderBy(col("gcos").desc, col("gid"))
    val qg = queries.crossJoin(broadcast(idx.coarse))
      .select(col("q_id"), col("q_emb"), col("gid"),
        call_function("cosine_sim", col("q_emb"), col("gemb")).as("gcos"))
      .withColumn("grk", row_number().over(wg))
      .select(col("q_id"), col("q_emb"), col("gid"), col("grk"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("grk"), col("cos").desc, col("cid"))
    qg.join(broadcast(idx.centRouted), "gid")
      .select(col("q_id"), col("q_emb"), col("cid"), col("grk"),
        call_function("cosine_sim", col("q_emb"), col("cemb")).as("cos"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cid").as("cell"))
  }

  /** Skew audit of [[ivfProbeAll]]'s one corpus-sized exchange (r20):
    * the candidates join keys on `cell`, and a real embedding
    * distribution makes HOT cells — at cluster scale a hot cell is a
    * straggler task. Returns one row per probed cell with its probe
    * fan-in, assigned population, and candidate-pair load
    * (n_probes · n_vecs — exactly the rows that cell contributes to
    * the rescoring stage), so the harness can report the max/median
    * load ratio and decide whether salting is warranted. */
  def ivfCellLoad(s: SparkSession, idx: IvfIndex, queries: DataFrame,
                  nProbe: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val pc = probesAll(idx, queries, nProbe)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_probes"))
    val ac = idx.assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    pc.join(ac, Seq("cell"))
      .select(col("cell"), col("n_probes"), col("n_vecs"),
        (col("n_probes") * col("n_vecs")).as("candidates"))
  }

  /** [[ivfCellLoad]] under the salted regime's EXACT join key: per
    * (cell, pmod(hash(vec_id), saltF)) candidate load — n_probes(cell)
    * stays constant across a cell's salts (every probe row replicates
    * to all S salts) while its vectors split by the same hash the
    * mitigation uses, so this relation IS the task-load distribution
    * the salted join produces. The audit harness reports max/median of
    * both keyings side by side: the unsalted ratio is the straggler
    * bound the mitigation removes, this one is what remains. */
  def ivfCellLoadSalted(s: SparkSession, idx: IvfIndex, queries: DataFrame,
                        nProbe: Int, saltF: Int): DataFrame = {
    require(saltF >= 1, s"saltF must be >= 1, got $saltF")
    graft.functions.CosineSimilarity.register(s)
    val pc = probesAll(idx, queries, nProbe)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_probes"))
    val ac = idx.assigned
      .withColumn("salt", pmod(hash(col("vec_id")), lit(saltF)))
      .groupBy(col("cell"), col("salt")).agg(count(lit(1)).as("n_vecs"))
    ac.join(pc, Seq("cell"))
      .select(col("cell"), col("salt"),
        (col("n_probes") * col("n_vecs")).as("candidates"))
  }

  /** Production probe width: cover ~[[AdaptiveProbeTarget]] vectors'
    * worth of cells, never fewer than 4 cells. At the design point
    * (cells ≈ 256 vectors) this pins nProbe at 4–5 (4 exactly when
    * cells hit 256; the ceil can add one since ⌈n/256⌉ rounds cells
    * down — bounded, never growing with n); on a SMALL
    * corpus, where nlist floors at 16 and cells hold n/16 ≪ 256
    * vectors, it widens the probe so candidate coverage doesn't
    * collapse (measured: recall@5 0.38 at 2 000 vectors with the fixed
    * nProbe = 4 — 25% of a random near-orthogonal corpus is simply not
    * enough candidates; the widened probe covers ~half). The rule keeps
    * the probe-cost invariant FLAT BY CONSTRUCTION: expected rescores ≈
    * nProbe · n/nlist ≈ max(4 · cell, 1024) vectors regardless of
    * corpus size. q53/q115 pin nProbe = 4 (the SQL oracle bakes the
    * constant); the stress harness probes with this rule and asserts
    * recall at every tier. */
  val AdaptiveProbeTarget = 1024L
  def adaptiveNProbe(nlist: Long, n: Long): Int = {
    require(nlist > 0 && n > 0, s"adaptiveNProbe($nlist, $n)")
    val want = math.ceil(AdaptiveProbeTarget.toDouble * nlist / n).toLong
    math.min(nlist, math.max(4L, want)).toInt
  }

  def ivfAnn(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val idx = ivfIndex(s, d)
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    ivfProbe(s, idx, queries, nProbe)
  }

  /** q53's oracle replays the ENTIRE adaptive IVF pipeline in SQL: the
    * nlist/coarse arithmetic from the corpus count, the md5-ordered
    * centroid sample, the two-level max-cosine assignment (smallest
    * centroid id on exact-double ties at every level), per-query
    * top-nProbe probe cells in the assignment-consistent two-level
    * order (coarse rank, then within-cell cosine), and exact cosine
    * rescoring — every cosine is the same left-to-right double fold on
    * both engines, so even this "approximate" index is hash-checked. */
  /** Shared by q53 (in-session index) and q115 (persisted index): the
    * two pipelines produce bit-identical results — the KV round-trip is
    * lossless on float arrays — so one oracle pins both.
    *
    * Parameterized over the CENTROID BASIS (`basis` names the CTE the
    * quantizer arithmetic and md5 sample draw from; `extraCtes` defines
    * it): q53/q115 sample from the full corpus (`dbl`), while q116's
    * append-incremental index samples from the pre-append prefix — the
    * frozen-centroid semantics of incremental maintenance, replayed
    * exactly. Also parameterized over the ASSIGNMENT CORPUS (`corpus`):
    * the relation whose rows are assigned, probed and rescored —
    * `dbl` everywhere except q118, whose corpus was DML-rewritten
    * after the build (deletes + in-place updates), so candidates come
    * from the post-DML state while centroids stay frozen on the
    * full pre-DML basis. Queries always come from `dbl` (the driver
    * parquet), matching the engines' probe inputs. */
  /** The IVF replay CTEs up to and including `cands` (q_id, n_id per
    * probed-cell candidate) — shared by the exact-rescore tail
    * ([[ivfOracleSqlFrom]]) and q122's ADC tail. */
  private def ivfCandsCtes(extraCtes: String, basis: String,
                           corpus: String = "dbl",
                           recursive: Boolean = false,
                           nProbe: Int = 4,
                           queryPred: String = "q.vec_id < 20"): String = s"""
      WITH ${if (recursive) "RECURSIVE " else ""}dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),$extraCtes
      params AS (
        SELECT GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT)) AS k FROM $basis),
      params2 AS (
        SELECT k, GREATEST(4, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT)) AS c
        FROM params),
      cent AS (
        SELECT emb AS cemb,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
        FROM $basis
        QUALIFY cid <= (SELECT k FROM params2)),
      coarse AS (
        SELECT cid AS gid, cemb AS gemb FROM cent
        WHERE cid <= (SELECT c FROM params2)),
      centg AS (
        SELECT cid, cemb, gid FROM (
          SELECT f.cid, f.cemb, g.gid,
                 row_number() OVER (PARTITION BY f.cid ORDER BY
                   list_dot_product(f.cemb, g.gemb) /
                   (sqrt(list_dot_product(f.cemb, f.cemb)) *
                    sqrt(list_dot_product(g.gemb, g.gemb))) DESC, g.gid) AS r
          FROM cent f CROSS JOIN coarse g) WHERE r = 1),
      vg AS (
        SELECT vec_id, emb, gid FROM (
          SELECT e.vec_id, e.emb, g.gid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_dot_product(e.emb, g.gemb) /
                   (sqrt(list_dot_product(e.emb, e.emb)) *
                    sqrt(list_dot_product(g.gemb, g.gemb))) DESC, g.gid) AS r
          FROM $corpus e CROSS JOIN coarse g) WHERE r = 1),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT v.vec_id, f.cid,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_dot_product(v.emb, f.cemb) /
                   (sqrt(list_dot_product(v.emb, v.emb)) *
                    sqrt(list_dot_product(f.cemb, f.cemb))) DESC, f.cid) AS r
          FROM vg v JOIN centg f ON f.gid = v.gid) WHERE r = 1),
      qg AS (
        SELECT q_id, gid, grk FROM (
          SELECT q.vec_id AS q_id, g.gid,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_dot_product(q.emb, g.gemb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(g.gemb, g.gemb))) DESC, g.gid) AS grk
          FROM dbl q CROSS JOIN coarse g
          WHERE $queryPred) t),
      probes AS (
        SELECT q_id, cell FROM (
          SELECT qg.q_id, f.cid AS cell,
                 row_number() OVER (PARTITION BY qg.q_id ORDER BY qg.grk,
                   list_dot_product(qe.emb, f.cemb) /
                   (sqrt(list_dot_product(qe.emb, qe.emb)) *
                    sqrt(list_dot_product(f.cemb, f.cemb))) DESC, f.cid) AS rk
          FROM qg
          JOIN centg f ON f.gid = qg.gid
          JOIN dbl qe ON qe.vec_id = qg.q_id) t
        WHERE rk <= $nProbe),
      cands AS (
        SELECT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cells a ON a.cell = p.cell
        WHERE a.vec_id <> p.q_id)"""

  private[queries] def ivfOracleSqlFrom(extraCtes: String, basis: String,
                                        corpus: String = "dbl",
                                        queryPred: String = "q.vec_id < 20")
      : String =
    ivfCandsCtes(extraCtes, basis, corpus, queryPred = queryPred) + s""",
      scored AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM cands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN $corpus ne ON ne.vec_id = c.n_id),
      ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM scored)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""

  private[queries] val ivfOracleSql: String = ivfOracleSqlFrom("", "dbl")

  /** q53's oracle replays the ENTIRE adaptive IVF pipeline in SQL — see
    * [[ivfOracleSql]]. */
  val q53IvfAnn: Q = Q(
    "q53_ivf_ann",
    (s, d) => ivfAnn(s, d, nProbe = 4),
    Some(ivfOracleSql),
    doc = "IVF ANN (adaptive bounded-cell quantizer + nProbe cosine rescoring)")


  /** Int8-quantized top-k: per-vector max-abs scaling to int8 (4× less
    * storage/bandwidth than float32 — at 100 TB the quantized corpus is
    * what streams through the scorer), integer dot products accumulated
    * exactly in LONG via the fused codegen'd [[graft.functions.Int8Dot]]
    * expression (the `zip_with`+`aggregate` HOF form allocates an
    * intermediate array per row and runs interpreted), cosine
    * approximated from quantized norms. Lossy vs float cosine (recall
    * vs exact q50 asserted in ScalaTest) but fully DETERMINISTIC —
    * max-abs is an exact order-independent reduction and every other
    * step is per-row double/integer arithmetic — so unlike the seeded
    * sketches, the oracle replays the whole quantization: codes, exact
    * LONG dots, and the rank order, hash-checked end to end. */
  val q54QuantizedTopK: Q = Q(
    "q54_quantized_topk",
    (s, d) => {
      graft.functions.Int8Dot.register(s)
      val emb = Tables.embeddings(s, d)
      // per-vector scale + int8 codes (ints in [-127, 127])
      val scale = aggregate(col("embedding"), lit(0.0f),
        (a, x) => greatest(a, abs(x))).cast("double") / 127.0
      val quantized = emb
        .withColumn("s", scale)
        // an all-zero vector has no quantization (s = 0) and no defined
        // cosine; excluded on BOTH engines rather than diverging on
        // division-by-zero semantics
        .filter(col("s") =!= 0.0)
        .withColumn("q", transform(col("embedding"),
          x => round(x.cast("double") / col("s"), 0).cast("int")))
        .select(col("vec_id"), col("s"), col("q"))
      def idot(a: Column, b: Column): Column = call_function("int8_dot", a, b)
      val withNorm = quantized.withColumn("nq", idot(col("q"), col("q")))
      val queries = withNorm.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("nq").as("q_nq"))
      val scored = withNorm.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (idot(col("qq"), col("q")).cast("double") /
            sqrt(col("q_nq").cast("double") * col("nq").cast("double"))).as("qcos"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), round(col("qcos"), 6).as("qcos_r"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some("""
      WITH sc AS (
        SELECT vec_id,
               CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS s
        FROM embeddings),
      codes AS (
        -- s = 0 (all-zero vector) is excluded on both engines
        SELECT e.vec_id,
               list_transform(e.embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) / sc.s) AS INT)) AS qv
        FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id
        WHERE sc.s <> 0),
      norms AS (
        SELECT vec_id, qv,
               CAST(list_sum(list_transform(range(1, len(qv) + 1),
                 i -> CAST(qv[i] AS BIGINT) * qv[i])) AS BIGINT) AS nq
        FROM codes),
      scored AS (
        SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
               CAST(CAST(list_sum(list_transform(range(1, len(qs.qv) + 1),
                      i -> CAST(qs.qv[i] AS BIGINT) * cs.qv[i])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(qs.nq AS DOUBLE) * CAST(cs.nq AS DOUBLE)) AS qcos
        FROM norms qs JOIN norms cs
          ON qs.vec_id < 20 AND cs.vec_id <> qs.vec_id),
      ranked AS (
        SELECT q_id, n_id, qcos,
               row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rk
        FROM scored)
      SELECT q_id, rk, n_id, round(qcos, 6) AS qcos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    doc = "int8-quantized cosine top-k (4x storage reduction)")

  /** Sub-quadratic embedding-cosine near-dup PAIRS — the scale path for
    * q51's output shape (q52/q53/q54 answer top-k ANN, not pair
    * enumeration). Same multi-table hyperplane buckets as q52: candidate
    * pairs only where both vectors share a (table, bucket), deduped
    * across tables on the narrow id pair BEFORE re-joining embeddings
    * (the wide arrays never ride through the dedup shuffle), then exact
    * cosine verification at ≥ 0.9 — so every emitted pair is exact;
    * bucketing costs only recall (candidates ⊆ all pairs, asserted vs
    * q51 in ScalaTest). At 100 TB the (tbl, bucket) shuffle replaces
    * q51's O(n²) cross join; plane count (bucket width) scales with
    * log n to keep buckets bounded. Deterministic planes → the oracle
    * replays the entire pipeline, hash-checked. */
  /** The q55 pipeline over any (vec_id, embedding) relation — also
    * exercised by ScalaTest on a synthetic corpus WITH true near-dups
    * (the driver corpus is near-orthogonal, max pairwise cosine ≈ 0.6,
    * so its q55 result is legitimately empty). */
  def lshNearDupPairs(emb: DataFrame, threshold: Double,
                      tables: Int = 4, planesPerTable: Int = 4): DataFrame = {
    val s = emb.sparkSession
    graft.functions.CosineSimilarity.register(s)
    // bucket width is the scale knob: more planes → narrower buckets →
    // fewer candidates per bucket; scale planesPerTable ~ log n. The
    // oracle-checked q55 uses the 4×4 default (matching the baked SQL);
    // wider registrations are measured by graft.Stress.
    graft.functions.LshBuckets.register(s, tables, planesPerTable)
    val bucketed = emb
      .select(col("vec_id"), posexplode(expr("lsh_buckets(embedding)")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val cands = bucketed.as("a").join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b") // union across tables, ids only
    cands
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              expr("cosine_sim(emb_a, emb_b)").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q55LshNearDup: Q = Q(
    "q55_lsh_near_dup",
    (s, d) => lshNearDupPairs(Tables.embeddings(s, d), threshold = 0.9),
    Some(s"""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      bucketed AS (
        ${lshBandSelects.mkString("\n        UNION ALL\n        ")}),
      cands AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bucketed a JOIN bucketed b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      scored AS (
        SELECT c.id_a, c.id_b,
               list_dot_product(ea.emb, eb.emb) /
               (sqrt(list_dot_product(ea.emb, ea.emb)) *
                sqrt(list_dot_product(eb.emb, eb.emb))) AS cos
        FROM cands c
        JOIN dbl ea ON ea.vec_id = c.id_a
        JOIN dbl eb ON eb.vec_id = c.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cos_r
      FROM scored WHERE cos >= 0.9
      ORDER BY id_a, id_b"""),
    doc = "LSH-bucketed cosine near-dup pairs (sub-quadratic twin of q51)")

  /** Left-to-right double dot product over already-double arrays — the
    * fused codegen'd [[graft.functions.DoubleDot]] expression (bit-
    * identical to the `zip_with`+`aggregate` HOF and to DuckDB's
    * list_dot_product; the HOF form allocates an intermediate array per
    * row and runs interpreted, which dominated the PQ encode's n·M·K
    * row stream). Callers must have called DoubleDot.register. */
  private def dotd(a: Column, b: Column): Column =
    call_function("dot_d", a, b)

  /** The HOF reference formulation [[graft.functions.DoubleDot]] is
    * tested against (OperatorSpec asserts bitwise agreement). */
  private[queries] def dotdHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Product-quantization (PQ) ANN top-k — the memory path for 100 TB
    * similarity search. The 64-dim float corpus (256 B/vector) is
    * compressed to M = 8 codes of 4 bits (K = 16 codewords/subspace —
    * 4 B/vector, 64× less than float32): each vector splits into 8
    * contiguous 8-dim subspaces and each subvector snaps to its
    * min-L2 codeword (ties to the smallest codeword id), the codebook
    * being a deterministic md5-ordered corpus sample — q53's quantizer
    * seed rule, which is exactly what lets DuckDB replay codebook,
    * codes, and candidate ranks bit-for-bit (iterative k-means would
    * be partitioning-dependent). Probing is asymmetric distance
    * computation (ADC): a candidate is scored from its CODES alone —
    * mathematically the dot product of the query against the
    * candidate's reconstruction (its codewords concatenated), computed
    * here as one left-to-right double dot so both engines agree
    * bitwise. At cluster scale the same score is an M-entry table
    * lookup sum: the query×codeword dot tables are M·K doubles per
    * query, broadcast, and the candidate scan reads ONLY the 4 B/vector
    * code columns — the float corpus is touched by nothing but the
    * final ≤R-row re-rank joins. Top R = 20 ADC candidates per query
    * re-rank with EXACT cosine, so every emitted score is exact and
    * quantization costs only recall (floor vs exact q50 asserted in
    * ScalaTest). The argmin-L2 encode is expressed as argmax of
    * (dot(sv, cw) − |cw|²/2) — the ‖sv‖² term is constant per
    * (vector, subspace) — keeping every comparison on the
    * list_dot_product primitive both engines accumulate identically. */
  /** PQ geometry: M contiguous subspaces of subDim dims over the 64-dim
    * corpus, K codewords per subspace (codes fit 4 bits). */
  private[queries] val PqM = 8
  private[queries] val PqSubDim = 8
  private[queries] val PqK = 16

  /** The PQ codebook: K md5-sampled seed vectors × M subspaces, with
    * the codeword self-dot precomputed for the encode affinity.
    * (m, j, cw, cn). */
  private[graft] def pqCodebook(s: SparkSession, raw: DataFrame): DataFrame = {
    graft.functions.DoubleDot.register(s)
    md5CentroidSample(s, raw, PqK)
      .select(col("cid").as("j"), transform(col("cemb"), _.cast("double")).as("semb"))
      .select(col("j"), explode(sequence(lit(1), lit(PqM))).as("m"), col("semb"))
      .select(col("m"), col("j"),
        slice(col("semb"), (col("m") - 1) * PqSubDim + 1, lit(PqSubDim)).as("cw"))
      .withColumn("cn", dotd(col("cw"), col("cw")))
  }

  /** PQ encode: per (vector, subspace) the max-affinity codeword —
    * argmin L2 ≡ argmax (dot(sv, cw) − |cw|²/2), ties to the smallest
    * codeword id. The K×M codebook is broadcast; the n·M subvector
    * stream collapses back to n·M rows via map-side-combined max_by
    * before any shuffle. (vec_id, m, code). */
  private[graft] def pqEncode(dbl: DataFrame, cb: DataFrame): DataFrame = {
    graft.functions.DoubleDot.register(dbl.sparkSession)
    dbl
      .select(col("vec_id"), col("emb"), explode(sequence(lit(1), lit(PqM))).as("m"))
      .select(col("vec_id"), col("m"),
        slice(col("emb"), (col("m") - 1) * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("j"),
        (dotd(col("sv"), col("cw")) - col("cn") / 2).as("aff"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max_by(col("j"), struct(col("aff"), (lit(0) - col("j")).as("nj"))).as("code"))
  }

  /** The PQ replay CTEs (codebook sample → per-subspace codes →
    * reconstruction) as a WITH-list fragment over an existing `dbl`
    * (vec_id, emb DOUBLE[]) relation — shared by q120 (flat PQ) and
    * q122 (IVF-PQ). Geometry literals match PqM/PqSubDim/PqK. */
  private val pqReconCtes: String = """
      seeds AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j,
               emb AS semb
        FROM (SELECT vec_id, emb FROM dbl
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
      ms AS (SELECT unnest(range(1, 9)) AS m),
      pqcb AS (
        SELECT m, j, semb[(m-1)*8+1 : m*8] AS cw,
               list_dot_product(semb[(m-1)*8+1 : m*8], semb[(m-1)*8+1 : m*8]) AS cn
        FROM seeds CROSS JOIN ms),
      subs AS (
        SELECT vec_id, m, emb[(m-1)*8+1 : m*8] AS sv FROM dbl CROSS JOIN ms),
      codes AS (
        SELECT vec_id, m, j AS code FROM (
          SELECT s.vec_id, s.m, c.j,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY list_dot_product(s.sv, c.cw) - c.cn / 2 DESC, c.j) AS rn
          FROM subs s JOIN pqcb c ON s.m = c.m)
        WHERE rn = 1),
      recon AS (
        SELECT k.vec_id, flatten(list(c.cw ORDER BY k.m)) AS recon
        FROM codes k JOIN pqcb c ON c.m = k.m AND c.j = k.code
        GROUP BY k.vec_id),"""

  /** PQ decode: the reconstruction every ADC score is a dot against.
    * (collect_list order is non-deterministic; sort_array on the
    * unique m restores the subspace order deterministically.)
    * (vec_id, recon). */
  private[graft] def pqRecon(codes: DataFrame, cb: DataFrame): DataFrame =
    codes
      .join(broadcast(cb.select(col("m"), col("j").as("code"), col("cw"))), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("m"), col("cw")))),
        x => x.getField("cw"))).as("recon"))

  val q120PqTopK: Q = Q(
    "q120_pq_topk",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      graft.functions.DoubleDot.register(s)
      val R = 20
      val raw = Tables.embeddings(s, d)
      val dbl = raw.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      val cb = pqCodebook(s, raw)
      val codes = pqEncode(dbl, cb)
      val recon = pqRecon(codes, cb)
      val queries = dbl.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val adc = recon.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          dotd(col("q_emb"), col("recon")).as("aip"))
      val wc = Window.partitionBy(col("q_id")).orderBy(col("aip").desc, col("n_id"))
      val cands = adc.withColumn("crk", row_number().over(wc)).filter(col("crk") <= R)
        .select(col("q_id"), col("n_id"))
      // exact cosine re-rank over the ≤R candidates — the only stage
      // that reads the float corpus
      val rer = cands
        .join(raw.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
        .join(raw.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
        .select(col("q_id"), col("n_id"), expr("cosine_sim(qe, ne)").as("cos"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      rer.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some(s"""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),$pqReconCtes
      q AS (SELECT vec_id AS q_id, emb AS q_emb FROM dbl WHERE vec_id < 20),
      adc AS (
        SELECT q.q_id, r.vec_id AS n_id,
               list_dot_product(q.q_emb, r.recon) AS aip
        FROM recon r CROSS JOIN q WHERE r.vec_id <> q.q_id),
      cands AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY aip DESC, n_id) AS crk
          FROM adc)
        WHERE crk <= 20),
      rer AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM cands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN dbl ne ON ne.vec_id = c.n_id),
      ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM rer)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    doc = "product-quantization ANN: 4 B/vector ADC candidates + exact re-rank")

  /** IVF-PQ ANN — the classic composed layout for billion-vector /
    * 100 TB search (coarse inverted file for candidate pruning ×
    * product quantization for candidate scoring): the probe visits
    * q53's nProbe = 4 route-ranked cells, but the cell candidates are
    * pre-scored by ADC from their 4 B/vector PQ codes — the float
    * corpus is read ONLY by the final ≤R-row exact re-rank, so the
    * per-cell scan touches (cell, codes) columns: ~12 B/vector instead
    * of 256 B. Cell pruning and code compression multiply: at the
    * design point a probe reads nProbe·256 code rows (~4 KB) where
    * exact IVF reads nProbe·256 float vectors (~256 KB) and flat PQ
    * reads every code row. Both stages reuse the exact machinery of
    * their parents — probeCells (route-consistent cell ranking) and
    * pqEncode/pqRecon (md5-sampled codebook) — so the DuckDB oracle is
    * literally q53's candidate CTEs composed with q120's PQ CTEs, and
    * the full build → probe → ADC → re-rank pipeline stays
    * hash-checked. Recall floor vs exact q50 asserted in ScalaTest. */
  /** The IVF-PQ probe over a built index and a PQ reconstruction
    * table: route-ranked cell pruning → id-only candidates → ADC
    * scoring against `recon` → top-R cut → exact cosine re-rank from
    * `raw`. Split from q122 so the stress harness can time probes over
    * a PERSISTED index/recon pair, the way q53's split does. */
  private[graft] def ivfPqProbe(s: SparkSession, idx: IvfIndex, recon: DataFrame,
                                raw: DataFrame, queries: DataFrame,
                                nProbe: Int, r: Int = 20): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    graft.functions.DoubleDot.register(s)
    val probes = probeCells(s, idx, queries, nProbe)
    // cell candidates carry only ids — the assigned relation's float
    // column is dropped before the join with the code-derived recon
    val cands = idx.assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val qd = queries.select(col("q_id"),
      transform(col("q_emb"), _.cast("double")).as("q_embd"))
    val adc = cands.join(recon, "vec_id").join(broadcast(qd), "q_id")
      .select(col("q_id"), col("vec_id").as("n_id"),
        dotd(col("q_embd"), col("recon")).as("aip"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("aip").desc, col("n_id"))
    val top = adc.withColumn("crk", row_number().over(wc)).filter(col("crk") <= r)
      .select(col("q_id"), col("n_id"))
    val rer = top
      .join(raw.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(raw.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("q_id"), col("n_id"), expr("cosine_sim(qe, ne)").as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    rer.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy(col("q_id"), col("rk"))
  }

  val q122IvfPq: Q = Q(
    "q122_ivf_pq",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val raw = Tables.embeddings(s, d)
      val dbl = raw.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      val idx = ivfIndexFrom(s, raw)
      val cb = pqCodebook(s, raw)
      val recon = pqRecon(pqEncode(dbl, cb), cb)
      val queries = raw.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      ivfPqProbe(s, idx, recon, raw, queries, nProbe = 4)
    },
    Some(ivfCandsCtes("", "dbl") + "," + pqReconCtes + """
      qd AS (SELECT vec_id AS q_id, emb FROM dbl WHERE vec_id < 20),
      adc AS (
        SELECT c.q_id, c.n_id, list_dot_product(q.emb, r.recon) AS aip
        FROM cands c
        JOIN recon r ON r.vec_id = c.n_id
        JOIN qd q ON q.q_id = c.q_id),
      top AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY aip DESC, n_id) AS crk
          FROM adc)
        WHERE crk <= 20),
      rer AS (
        SELECT t.q_id, t.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM top t
        JOIN dbl qe ON qe.vec_id = t.q_id
        JOIN dbl ne ON ne.vec_id = t.n_id),
      ranked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM rer)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    doc = "IVF-PQ ANN: cell-pruned candidates ADC-scored from 4 B/vector codes")

  /** SemDeDup-style semantic deduplication: cluster the corpus around a
    * coarse quantizer, then mark as duplicate every vector that has a
    * SMALLER-id neighbor above the cosine threshold in its own cluster
    * (keep-first representative selection). Candidate enumeration is
    * cluster-local — the within-cell self-join is each cell's ~n/k
    * vectors, never the corpus — which is the published SemDeDup recipe
    * for embedding dedup at web scale: k grows with n (k≈√n keeps cells
    * bounded), the corpus shuffles ONCE on cell id, and no all-pairs
    * stage exists anywhere. Output is the full per-vector verdict
    * (cell + is_dup), so the hash pins assignment and dedup both.
    *
    * The quantizer is q53's deterministic md5-ordered sample, which is
    * what lets DuckDB replay cluster boundaries exactly; an iterative
    * k-means would be partitioning-dependent. τ=0.35 suits the
    * synthetic corpus (random embeddings, max in-cell cosine ≈0.48 —
    * real text embeddings would use ≈0.9+).
    *
    * k is ADAPTIVE (round 9): k = max(16, ceil(√n)) derived from one
    * scalar corpus count, so cell population stays ~√n as the corpus
    * grows and the within-cell self-join stays ~n·√n total work
    * instead of degrading toward O(n²/k) with a constant k. The rule is
    * pure integer/sqrt arithmetic on the count, so the DuckDB oracle
    * computes the identical k from the same table. Assignment is a
    * broadcast crossJoin + map-side-combined argmax (NOT k literal
    * arrays in one codegen'd expression, which would blow past the JVM
    * method limit at k in the thousands): each input partition
    * collapses its n·k candidate rows back to n before any shuffle.
    *
    * FENCED ANCHOR (round 15): q103 is the exact flat SemDeDup
    * formulation and the ground truth q114's hierarchy is judged
    * against — it is NOT the production path. Its √n-sized cells make
    * the within-cell join Θ(n^1.5) AND expose it to stragglers/host
    * noise that q114's bounded ~256-vector cells absorb (measured at
    * the 100× stress tier: q103 steady spanned 9.7–49.5 s across four
    * same-code passes while q114 held 4.9–6.7 s). Like q50/q51 it
    * refuses above `graft.exactAnchorMaxRows` unless explicitly
    * opted in. */
  val q103SemanticDedup: Q = Q(
    "q103_semantic_dedup",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = fenceExactAnchor(s, Tables.embeddings(s, d), "q103_semantic_dedup",
        "run the bounded-cell hierarchical production path (q114_semantic_dedup_hier) instead")
      // Bounded scalar collect: corpus count -> deterministic k.
      val n = emb.count()
      val k = math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)
      val tau = 0.35
      val cent = md5CentroidSample(s, emb, k)
      val cells = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("cid"),
          call_function("cosine_sim", col("embedding"), col("cemb")).as("cos"))
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("embedding"),
          max_by(col("cid"), struct(col("cos"), (lit(0) - col("cid")).as("nc")))
            .as("cell"))
        .select(col("vec_id"), col("embedding"), col("cell"))
      val dups = cells.as("a").join(cells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_sim(a.embedding, b.embedding)") >= tau)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      cells.join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (
        SELECT emb AS cemb,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
        FROM dbl
        QUALIFY cid <= GREATEST(16, CAST(ceil(sqrt((SELECT count(*) FROM dbl))) AS BIGINT))),
      asgn AS (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.emb, c.cemb) /
                 (sqrt(list_dot_product(e.emb, e.emb)) *
                  sqrt(list_dot_product(c.cemb, c.cemb))) DESC, c.cid) AS r
        FROM dbl e CROSS JOIN cent c),
      cells AS (SELECT vec_id, emb, cid AS cell FROM asgn WHERE r = 1),
      dups AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb) /
              (sqrt(list_dot_product(a.emb, a.emb)) *
               sqrt(list_dot_product(b.emb, b.emb))) >= 0.35)
      SELECT c.vec_id, c.cell, (d.vec_id IS NOT NULL) AS is_dup
      FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
      ORDER BY c.vec_id"""),
    doc = "SemDeDup: cluster-local cosine dedup with keep-first representatives")

  /** Hierarchical (two-level) SemDeDup — q103's documented 100 TB scale
    * path made real. q103 balances its two Θ(n^1.5) terms with k≈√n:
    * flat assignment costs n·k evaluations and the within-cell dedup
    * join n·(n/2k) pairs, so √n is the best a FLAT quantizer can do —
    * and a head-to-head at the 100× tier (2 M vectors) measured a
    * two-level router with the same k as a wash, because the shared
    * within-cell join dominated both. The hierarchy's real payoff is
    * that it makes BOUNDED CELLS affordable: k = n/B (B ≈ 256 vectors
    * per cell — the published web-scale SemDeDup shape, where cluster
    * count grows with the corpus and cluster size does not) turns the
    * dedup join linear (n·B/2 pairs), while coarse routing keeps
    * assignment at n·(c + k/c) ≈ n·2√k ≈ Θ(n^1.25) evaluations instead
    * of the flat n·k ≈ Θ(n²/B) that k = n/B would otherwise cost.
    * Everything stays deterministic and oracle-replayable:
    *  - fine centroids = q103's md5-ordered first k sample;
    *  - coarse centroids = the first c of the SAME ordering (a prefix of
    *    the fine sample — no second sampling rule to replay);
    *  - every argmax breaks ties by smallest centroid id, exactly like
    *    q103 (max_by over (cos, -id) ↔ row_number ORDER BY cos DESC, id).
    * Routing is greedy, so a vector near a coarse boundary may land in a
    * different fine cell than flat assignment would give it, and smaller
    * cells trade a little cross-cell recall for the linear join (the
    * stress tier's twin-recall check quantifies it) — q114 is its own
    * contract (hierarchical bounded cells), hash-checked end to end
    * against DuckDB replaying the identical two-level rule; the dedup
    * stage and output shape are q103's unchanged. The two centroid
    * tables (k and c rows) are the only broadcasts — MBs at gate scale.
    * At ~300 bytes per 64-dim float centroid row the fine table reaches
    * Spark's practical broadcast ceiling (~1 GB) near 10⁶–10⁷
    * centroids, i.e. corpora of ~10⁹ vectors at B=256 — past
    * `graft.centroidBroadcastMaxRows` (default 10⁶) the hint is
    * DROPPED automatically and the gid join shuffles (it is already
    * keyed on gid; the corpus side shuffles on gid either way —
    * [[maybeBroadcastCentroids]], plan-asserted both ways). The corpus
    * shuffles once per argmax group-by and once on cell id — never
    * collected. */
  val q114SemanticDedupHier: Q = Q(
    "q114_semantic_dedup_hier",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      // bounded cells: cluster COUNT grows with the corpus, cluster
      // SIZE does not — the within-cell join stays ~n·B/2 pairs forever
      val k = math.max(16L, math.ceil(n / 256.0).toLong)
      val c = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
      val tau = 0.35
      val cent = md5CentroidSample(s, emb, k)
      val cells = hierAssign(emb, cent, c, k)
      val dups = cells.as("a").join(cells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_sim(a.embedding, b.embedding)") >= tau)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      cells.join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      params AS (
        SELECT GREATEST(16, CAST(ceil(count(*) / 256.0) AS BIGINT)) AS k FROM dbl),
      params2 AS (
        SELECT k, GREATEST(4, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT)) AS c
        FROM params),
      cent AS (
        SELECT emb AS cemb,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
        FROM dbl
        QUALIFY cid <= (SELECT k FROM params2)),
      coarse AS (
        SELECT cid AS gid, cemb AS gemb FROM cent
        WHERE cid <= (SELECT c FROM params2)),
      centg AS (
        SELECT cid, cemb, gid FROM (
          SELECT f.cid, f.cemb, g.gid,
                 row_number() OVER (PARTITION BY f.cid ORDER BY
                   list_dot_product(f.cemb, g.gemb) /
                   (sqrt(list_dot_product(f.cemb, f.cemb)) *
                    sqrt(list_dot_product(g.gemb, g.gemb))) DESC, g.gid) AS r
          FROM cent f CROSS JOIN coarse g) WHERE r = 1),
      vg AS (
        SELECT vec_id, emb, gid FROM (
          SELECT e.vec_id, e.emb, g.gid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_dot_product(e.emb, g.gemb) /
                   (sqrt(list_dot_product(e.emb, e.emb)) *
                    sqrt(list_dot_product(g.gemb, g.gemb))) DESC, g.gid) AS r
          FROM dbl e CROSS JOIN coarse g) WHERE r = 1),
      cells AS (
        SELECT vec_id, emb, cid AS cell FROM (
          SELECT v.vec_id, v.emb, f.cid,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_dot_product(v.emb, f.cemb) /
                   (sqrt(list_dot_product(v.emb, v.emb)) *
                    sqrt(list_dot_product(f.cemb, f.cemb))) DESC, f.cid) AS r
          FROM vg v JOIN centg f ON f.gid = v.gid) WHERE r = 1),
      dups AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb) /
              (sqrt(list_dot_product(a.emb, a.emb)) *
               sqrt(list_dot_product(b.emb, b.emb))) >= 0.35)
      SELECT c.vec_id, c.cell, (d.vec_id IS NOT NULL) AS is_dup
      FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
      ORDER BY c.vec_id"""),
    doc = "hierarchical SemDeDup: two-level quantizer assignment, cluster-local dedup")

  /** Hybrid retrieval: the IVF ANN arm (q53's index + probe machinery,
    * single exemplar query vec_id = 7, top-20 neighbors) fused with the
    * BM25 keyword arm (q121's pipeline, top-20 docs) by reciprocal-rank
    * fusion, rrf = Σ 1/(60 + rank) — the standard training-data
    * curation composition (dense + sparse retrieval, e.g. for targeted
    * corpus slicing or contamination hunting from one exemplar). Rides
    * the doc_id ≡ vec_id pairing of the driver tables (embeddings are
    * the documents' vectors).
    *
    * Scale shape: both arms are the already-audited sublinear paths —
    * the vector arm rescores only nProbe bounded cells, the keyword arm
    * sizes scoring by 4 terms' postings and rank-pushes its window —
    * and the fusion itself joins two ≤20-row relations (full outer, so
    * single-arm hits still rank) then sorts ≤40 rows. The vector arm
    * excludes the exemplar itself (ivfProbe's self-filter); the
    * exemplar can still surface through the keyword arm.
    *
    * Oracle: the COMPLETE composition in one statement — q53's IVF
    * candidate CTEs (+ exact rescore, top-20) and q121's BM25 CTEs
    * (k-prefixed to coexist) fused by the same RRF arithmetic. 1.0 is
    * cast to DOUBLE in SQL so DuckDB's decimal division never enters;
    * both engines add the two arm terms left-to-right. */
  val q123HybridRrf: Q = Q(
    "q123_hybrid_rrf",
    (s, d) => {
      // both arms ride the PERSISTED indexes (q115's IVF store, q127's
      // inverted index) — at scale nobody retrains a coarse quantizer
      // or re-tokenizes a corpus per query; the stores are already
      // asserted bit-identical to the in-session pipelines, so the
      // in-session oracle below still pins this result exactly
      val idx = IvfStore.ensure(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val vec = ivfProbe(s, idx, qv, nProbe = 4, topK = 20)
        .select(col("n_id").as("doc_id"), col("rk").as("rk_vec"))
      val (pDir, lDir) =
        Bm25Store.buildIfAbsent(s, d, "full", Tables.documents(s, d))
      val kw = Bm25Store.probe(s, pDir, lDir, Bm25Store.Terms, topK = 20)
        .select(col("doc_id"), col("rk").as("rk_kw"))
      val fused = vec.join(kw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rk_vec"), col("rk_kw"),
          (coalesce(lit(1.0) / (lit(60) + col("rk_vec")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rk_kw")), lit(0.0))).as("rrf"))
      val w = Window.orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("rk"), col("doc_id"), round(col("rrf"), 6).as("rrf_r"),
          when(col("rk_vec").isNotNull && col("rk_kw").isNotNull, "both")
            .when(col("rk_vec").isNotNull, "vec").otherwise("kw").as("arm"))
        .orderBy(col("rk"))
    },
    Some(ivfCandsCtes("", "dbl") + "," + TextOps.bm25Ctes + """,
      vscored AS (
        SELECT c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM cands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN dbl ne ON ne.vec_id = c.n_id
        WHERE c.q_id = 7),
      vranked AS (
        SELECT n_id AS doc_id,
               row_number() OVER (ORDER BY cos DESC, n_id) AS rk_vec
        FROM vscored
        QUALIFY rk_vec <= 20),
      kw AS (SELECT doc_id, rk AS rk_kw FROM kranked WHERE rk <= 20),
      fused AS (
        SELECT COALESCE(v.doc_id, k.doc_id) AS doc_id, v.rk_vec, k.rk_kw,
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rk_vec), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + k.rk_kw), 0.0) AS rrf
        FROM vranked v FULL OUTER JOIN kw k ON v.doc_id = k.doc_id),
      franked AS (
        SELECT doc_id, rrf, rk_vec, rk_kw,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        FROM fused)
      SELECT rk, doc_id, round(rrf, 6) AS rrf_r,
             CASE WHEN rk_vec IS NOT NULL AND rk_kw IS NOT NULL THEN 'both'
                  WHEN rk_vec IS NOT NULL THEN 'vec' ELSE 'kw' END AS arm
      FROM franked WHERE rk <= 10
      ORDER BY rk"""),
    doc = "hybrid retrieval: IVF ANN + BM25 arms fused by reciprocal-rank fusion")

  /** MMR (maximal marginal relevance) diversified re-rank of the IVF
    * probe candidates: greedily select k = 10 of the top-20 neighbors
    * of exemplar vec_id = 7, each pick maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)  (λ = 0.7, ties to
    * the smaller id; the first pick degenerates to pure relevance via
    * COALESCE(max over ∅) = 0) — the standard rerank that stops k
    * near-identical documents from crowding a retrieval slate, i.e.
    * dedup applied at selection time.
    *
    * Spark-first shape: the greedy loop is a per-QUERY fold, so it
    * runs as ONE `aggregate` higher-order function over
    * `sequence(1, k)` with a struct(selected, remaining) accumulator —
    * per-row, no driver loop, no custom physical operator; a million
    * queries would each fold independently inside their own row. The
    * argmax inside each step is `array_min` over structs keyed
    * (10.0 − score, id): order-independent of the candidate array's
    * arrival order, so the non-deterministic collect_list order never
    * shows. Candidate count and k are both bounded constants — the
    * fold is O(k²·dim) per query regardless of corpus size.
    *
    * Oracle: same greedy fold as a DuckDB recursive CTE over a
    * single-row (selected, remaining) list state — each step picks
    * `list_sort(list_transform(...))[1]` with the identical
    * (10.0 − score, id) key, nested lambdas computing the same
    * left-to-right cosine folds. Scores and key arithmetic are the
    * same IEEE ops in the same order on both engines, so the whole
    * greedy trajectory is hash-checked, not just the final set. */
  val q124MmrRerank: Q = Q(
    "q124_mmr_rerank",
    (s, d) => {
      // candidates come from the PERSISTED IVF store (bit-identical to
      // the in-session index, so the recursive-CTE oracle still pins
      // the whole greedy trajectory) — see q123's rationale
      val idx = IvfStore.ensure(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val embD = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      val top = ivfProbe(s, idx, qv, nProbe = 4, topK = 20)
        .select(col("n_id"), col("cos_r"))
      val cands = embD.join(broadcast(top), col("vec_id") === col("n_id"))
        .select(col("n_id").as("id"), col("cos_r").as("rel"), col("emb"))
      val packed = cands
        .agg(collect_list(struct(col("id"), col("rel"), col("emb"))).as("cands"))
      val selT = (c: Column) => struct(c.getField("id").as("id"),
        lit(0.0).as("mmr"), c.getField("emb").as("emb"))
      val zero = struct(
        slice(transform(col("cands"), selT), 1, 0).as("sel"),
        col("cands").as("rem"))
      val step = (st: Column, _: Column) => {
        val sel = st.getField("sel")
        val rem = st.getField("rem")
        val scored = transform(rem, c => {
          val maxsim = coalesce(array_max(transform(sel,
            s2 => cosine(c.getField("emb"), s2.getField("emb")))), lit(0.0))
          val score = lit(0.7) * c.getField("rel") - lit(0.3) * maxsim
          struct((lit(10.0) - score).as("key"), c.getField("id").as("id"),
            score.as("mmr"), c.getField("emb").as("emb"))
        })
        val best = array_min(scored)
        when(size(rem) > 0,
          struct(
            concat(sel, array(struct(best.getField("id").as("id"),
              best.getField("mmr").as("mmr"),
              best.getField("emb").as("emb")))).as("sel"),
            filter(rem, c => c.getField("id") =!= best.getField("id"))
              .as("rem")))
          .otherwise(st)
      }
      val folded = aggregate(sequence(lit(1), lit(10)), zero, step)
      packed.select(posexplode(folded.getField("sel")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("doc_id"),
          round(col("col.mmr"), 6).as("mmr_r"))
        .orderBy(col("rk"))
    },
    Some(ivfCandsCtes("", "dbl", recursive = true) + """,
      vscored AS (
        SELECT c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM cands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN dbl ne ON ne.vec_id = c.n_id
        WHERE c.q_id = 7),
      vcand AS (
        SELECT n_id AS id, round(cos, 6) AS rel,
               row_number() OVER (ORDER BY cos DESC, n_id) AS rk
        FROM vscored
        QUALIFY rk <= 20),
      cand AS (
        SELECT v.id, v.rel, e.emb
        FROM vcand v JOIN dbl e ON e.vec_id = v.id),
      packed AS (
        SELECT list({'id': id, 'rel': rel, 'emb': emb}) AS cands FROM cand),
      mmr AS (
        SELECT 0 AS step,
               CAST([] AS STRUCT(id BIGINT, mmr DOUBLE, emb DOUBLE[])[]) AS sel,
               cands AS rem
        FROM packed
        UNION ALL
        SELECT step + 1,
               list_append(sel, {'id': best.id, 'mmr': best.mmr, 'emb': best.emb}),
               list_filter(rem, c -> c.id <> best.id)
        FROM (
          SELECT step, sel, rem,
                 list_sort(list_transform(rem, c -> {
                   'key': 10.0 - (CAST(0.7 AS DOUBLE) * c.rel -
                            CAST(0.3 AS DOUBLE) * COALESCE(list_max(
                              list_transform(sel, s ->
                                list_dot_product(c.emb, s.emb) /
                                (sqrt(list_dot_product(c.emb, c.emb)) *
                                 sqrt(list_dot_product(s.emb, s.emb))))), 0.0)),
                   'id': c.id,
                   'mmr': CAST(0.7 AS DOUBLE) * c.rel -
                            CAST(0.3 AS DOUBLE) * COALESCE(list_max(
                              list_transform(sel, s ->
                                list_dot_product(c.emb, s.emb) /
                                (sqrt(list_dot_product(c.emb, c.emb)) *
                                 sqrt(list_dot_product(s.emb, s.emb))))), 0.0),
                   'emb': c.emb}))[1] AS best
          FROM mmr WHERE step < 10 AND len(rem) > 0) t),
      final AS (
        SELECT unnest(range(1, len(sel) + 1)) AS i, sel
        FROM mmr WHERE step = 10)
      SELECT CAST(i AS INT) AS rk, sel[i].id AS doc_id,
             round(sel[i].mmr, 6) AS mmr_r
      FROM final
      ORDER BY rk"""),
    doc = "MMR diversified re-rank of IVF candidates (greedy per-query HOF fold)")

  /** One Lloyd refinement step for the PQ codebook — codebook TRAINING
    * as a distributed aggregation. q120's seed codebook is an
    * md5-ordered corpus sample; real PQ trains it with k-means. One
    * step is: encode the corpus against the seed (the already-audited
    * `pqEncode`), then move every codeword to the MEAN of its assigned
    * subvectors (per subspace m, per codeword j, per dimension);
    * codewords that attracted nothing keep their seed. Lloyd's descent
    * property — the step never increases total quantization error — is
    * asserted in ScalaTest; more steps are this same query iterated.
    *
    * Scale shape: the corpus is scanned once into (m, j, dim, value)
    * and partially aggregated map-side — the shuffle carries M·K·dim
    * (1 024) groups, not rows, and the output is the 128-codeword
    * table. The means use the house fixed-point trick
    * ([[graft.util.Exact]], scale 6): sums of per-row rounded longs
    * are ORDER-INDEPENDENT, so the refined codebook is bit-identical
    * across partitionings and engines — codebook training itself is
    * hash-checked against DuckDB, which replays seed → encode → means
    * with the same fixed-point arithmetic. */
  val q125PqRefine: Q = Q(
    "q125_pq_refine",
    (s, d) => {
      graft.functions.DoubleDot.register(s)
      val raw = Tables.embeddings(s, d)
      val dbl = raw.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("emb"))
      val cb = pqCodebook(s, raw)
      val codes = pqEncode(dbl, cb)
      val subs = dbl
        .select(col("vec_id"), explode(sequence(lit(1), lit(PqM))).as("m"),
          col("emb"))
        .select(col("vec_id"), col("m"),
          slice(col("emb"), (col("m") - 1) * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      val dims = subs.join(codes, Seq("vec_id", "m"))
        .select(col("m"), col("code").as("j"), posexplode(col("sv")))
      val means = dims.groupBy(col("m"), col("j"), col("pos"))
        .agg(graft.util.Exact.davg(col("col"), 6).as("mu"),
          count(lit(1)).as("n"))
      // output is SCALAR rows (m, j, pos, n_assigned, mu) — one per
      // codeword dimension — not a re-assembled DOUBLE[] codeword: the
      // driver's hash harness sorts result frames and list columns are
      // unhashable there (r16's q125 was the suite's one unverified
      // query for exactly that). The list form was cosmetic anyway —
      // the means are computed per-pos above.
      cb.select(col("m"), col("j"), posexplode(col("cw")))
        .withColumnRenamed("col", "seed_v")
        .join(means, Seq("m", "j", "pos"), "left")
        // no final round: the fixed-point means are already bit-identical
        // doubles on both engines, and a round-to-6 DIVERGES on them —
        // sumLong/10^6/count lands exactly on .xxxxxx5 whenever count
        // divides the sum at the 7th digit, and Spark (HALF_UP) and
        // DuckDB (nearbyint) break those halves differently
        .select(col("m"), col("j"), col("pos"),
          coalesce(col("n"), lit(0L)).as("n_assigned"),
          coalesce(col("mu"), col("seed_v")).as("mu"))
        .orderBy(col("m"), col("j"), col("pos"))
    },
    Some(s"""
      WITH dbl AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),$pqReconCtes
      dims AS (
        SELECT s.m, k.code AS j, s.sv, unnest(range(0, 8)) AS pos
        FROM subs s JOIN codes k ON k.vec_id = s.vec_id AND k.m = s.m),
      vals AS (SELECT m, j, pos, sv[pos + 1] AS v FROM dims),
      means AS (
        SELECT m, j, pos, ${graft.util.Exact.sqlDavg("v", 6)} AS mu,
               count(*) AS n
        FROM vals GROUP BY m, j, pos),
      seedv AS (
        SELECT m, j, pos, cw[pos + 1] AS seed_v
        FROM (SELECT m, j, cw, unnest(range(0, 8)) AS pos FROM pqcb))
      SELECT c.m, c.j, CAST(c.pos AS INT) AS pos,
             COALESCE(r.n, 0) AS n_assigned,
             COALESCE(r.mu, c.seed_v) AS mu
      FROM seedv c LEFT JOIN means r
        ON r.m = c.m AND r.j = c.j AND r.pos = c.pos
      ORDER BY c.m, c.j, c.pos"""),
    doc = "PQ codebook Lloyd step: codeword = exact mean of assigned subvectors")

  /** Metadata-filtered ANN — "nearest English documents", the
    * filtered-vector-search shape every production retrieval system
    * needs (topical slicing, license filtering, language-scoped
    * contamination hunts). The predicate applies to the CANDIDATES,
    * between cell pruning and rescoring: a left-semi join against the
    * allowed-id set (lang = 'en', pushed into the documents scan)
    * drops disallowed candidates BEFORE any cosine is computed, so
    * the rescore stage is sized by the filter's selectivity, and the
    * post-filter alternative (rank first, filter after — which
    * silently returns < k rows whenever the filter bites) never
    * happens. The probe widens to nProbe = 8: a filter that keeps
    * fraction f of the corpus keeps ~f of each cell, so candidate
    * coverage is restored by probing proportionally more cells — the
    * standard filtered-ANN compensation, here a constant because the
    * driver corpus is ~half 'en'. Same riding-the-index economics as
    * q53 (bounded cells × bounded probe), one semi-join more.
    *
    * Oracle: q53's CTE chain at nProbe = 8 with the same semi-filter
    * between cands and rescoring. */
  val q129FilteredAnn: Q = Q(
    "q129_filtered_ann",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      // probes the PERSISTED IVF store (bit-identical to the in-session
      // index; same q53-family oracle) — see q123's rationale
      val idx = IvfStore.ensure(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val allowed = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val probes = probeCells(s, idx, qv, nProbe = 8)
      val cands = idx.assigned.join(broadcast(probes), Seq("cell"))
        .join(allowed, Seq("vec_id"), "left_semi")
        .join(broadcast(qv), Seq("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
      val scored = cands.select(col("q_id"), col("vec_id").as("n_id"),
        expr("cosine_sim(q_emb, embedding)").as("cos"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("n_id"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some(ivfCandsCtes("", "dbl", nProbe = 8) + """,
      fcands AS (
        SELECT c.q_id, c.n_id
        FROM cands c
        JOIN documents a ON a.doc_id = c.n_id AND a.lang = 'en'),
      fscored AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(qe.emb, ne.emb) /
               (sqrt(list_dot_product(qe.emb, qe.emb)) *
                sqrt(list_dot_product(ne.emb, ne.emb))) AS cos
        FROM fcands c
        JOIN dbl qe ON qe.vec_id = c.q_id
        JOIN dbl ne ON ne.vec_id = c.n_id),
      franked AS (
        SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM fscored)
      SELECT q_id, rk, n_id, round(cos, 6) AS cos_r
      FROM franked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    doc = "metadata-filtered ANN: semi-join the allowed set between cell pruning and rescoring")

  def defs: Seq[Q] = Seq(q50CosineTopK, q51CosineNearDup, q52LshAnn, q53IvfAnn,
    q54QuantizedTopK, q55LshNearDup, q103SemanticDedup, q114SemanticDedupHier,
    q120PqTopK, q122IvfPq, q123HybridRrf, q124MmrRerank, q125PqRefine,
    q129FilteredAnn)
}
