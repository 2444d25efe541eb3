package graft.queries

import graft.{Q, Tables}
import graft.util.Exact._
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 surface: non-equi (range) join, GROUPING SETS,
  * array function family, and delegated file sources (csv/json) —
  * round-tripped through a write+read so the format path is exercised,
  * with the oracle on the original parquet. */
object Extras {

  /** Range (interval) join: events ⋈ orders where the event falls within
    * 30 days after the (epoch-aligned) order date, same user/customer.
    * Equi key (user) keeps it a hash join with a residual range
    * predicate — the shape that survives scale (pure interval joins need
    * bucketing by time).
    *
    * The two synthetic corpora live in disjoint eras (orders 1995-2001,
    * events Jan 2024), so the order timestamps are shifted by a fixed
    * +26 years on BOTH engines to overlap the events window — without the
    * shift the join is empty and the oracle row proves nothing. */
  val q27RangeJoin: Q = Q(
    "q27_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val od = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderdate") + expr("INTERVAL 26 YEARS")).as("o_shifted"))
      ev.join(od,
          col("user_id") === col("o_custkey") &&
          col("ts") >= col("o_shifted") &&
          col("ts") < col("o_shifted") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, count(*) AS n_pairs, count(DISTINCT o_orderkey) AS n_orders
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
      JOIN (SELECT o_orderkey, o_custkey,
                   o_orderdate + INTERVAL 26 YEAR AS o_shifted FROM orders) o
        ON user_id = o_custkey
        AND ts >= o_shifted AND ts < o_shifted + INTERVAL 30 DAY
      GROUP BY user_id
      ORDER BY user_id"""),
    doc = "equi+range (interval) join")

  /** Explicit GROUPING SETS with grouping_id disambiguation. */
  val q28GroupingSets: Q = Q(
    "q28_grouping_sets",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql(s"""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
               count(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY rf, ls, gid""")
    },
    Some(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
             count(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
      ORDER BY rf, ls, gid"""),
    doc = "GROUPING SETS + grouping()")

  /** Array function family over embeddings: size / element access /
    * slice / contains-style predicate / per-row extremum. */
  val q29ArrayFuncs: Q = Q(
    "q29_array_funcs",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(try_element_at(col("embedding"), lit(1)).cast("double"), 6).as("e1"),
          round(try_element_at(col("embedding"), lit(-1)).cast("double"), 6).as("e_last"),
          round(array_max(col("embedding")).cast("double"), 6).as("e_max"),
          round(array_min(col("embedding")).cast("double"), 6).as("e_min"),
          size(filter(col("embedding"), x => x > 0f)).as("n_pos"))
        .orderBy(col("vec_id")),
    Some("""
      SELECT vec_id, len(embedding) AS dim,
             round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
             round(CAST(embedding[-1] AS DOUBLE), 6) AS e_last,
             round(CAST(list_max(embedding) AS DOUBLE), 6) AS e_max,
             round(CAST(list_min(embedding) AS DOUBLE), 6) AS e_min,
             len(list_filter(embedding, x -> x > 0)) AS n_pos
      FROM embeddings
      ORDER BY vec_id"""),
    doc = "array/list scalar function parity")

  /** Delegated file formats (SURVEY §2.1 "file sources"): nation flows
    * parquet → csv → json → DataFrame; the oracle reads the original
    * parquet. Proves the csv/json read+write paths preserve values. */
  val q73FileFormats: Q = Q(
    "q73_file_formats",
    (s, d) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-fmt-" +
        graft.util.Dirs.cacheKey(d)
      val n = Tables.nation(s, d)
      n.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      // explicit schema: one pass over the csv (inferSchema would scan twice)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(s"$tmp/csv")
        .coalesce(1).write.mode("overwrite").json(s"$tmp/json")
      s.read.json(s"$tmp/json")
        .coalesce(1).write.mode("overwrite").orc(s"$tmp/orc")
      s.read.orc(s"$tmp/orc")
        .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
        .orderBy(col("n_nationkey"))
    },
    Some("""
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation
      ORDER BY n_nationkey"""),
    doc = "csv + json + orc source round-trip chain")

  /** Map function family: JSON props parsed into map<string,int>,
    * keys/values/lookup. */
  val q74MapFuncs: Q = Q(
    "q74_map_funcs",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
        .select(
          col("event_id"),
          size(map_keys(col("m"))).as("n_keys"),
          try_element_at(col("m"), lit("k")).as("k_val"))
        .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             len(json_keys(props)) AS n_keys,
             CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      FROM events
      ORDER BY event_id"""),
    doc = "map functions over parsed JSON")

  /** Pivot (orders status × priority), null cells coalesced to 0 so the
    * oracle's FILTER-aggregation form matches exactly. */
  val q75Pivot: Q = Q(
    "q75_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS P
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    doc = "pivot ≡ conditional aggregation")

  /** Approximate distinct (HyperLogLog++) — sketch-based, so no exact
    * oracle; ScalaTest bounds the relative error vs the exact count. */
  val q76ApproxDistinct: Q = Q(
    "q76_approx_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
             approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy(col("l_returnflag")),
    None,
    doc = "HLL++ approximate distinct")

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL keep
    * duplicate multiplicities, unlike q11's distinct forms). */
  val q77BagSetOps: Q = Q(
    "q77_bag_set_ops",
    (s, d) => {
      val a = Tables.lineitem(s, d).filter(col("l_quantity") <= 25)
        .select(col("l_suppkey").as("k"))
      val b = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("k"))
      a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n_except"))
        .join(
          a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n_intersect")),
          Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_except"), lit(0L)).as("n_except"),
          coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
        .orderBy(col("k"))
    },
    Some("""
      WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity <= 25),
      b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      ex AS (SELECT k, count(*) AS n_except FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k),
      ix AS (SELECT k, count(*) AS n_intersect FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k)
      SELECT coalesce(ex.k, ix.k) AS k,
             coalesce(n_except, 0) AS n_except,
             coalesce(n_intersect, 0) AS n_intersect
      FROM ex FULL OUTER JOIN ix ON ex.k = ix.k
      ORDER BY k"""),
    doc = "EXCEPT ALL / INTERSECT ALL (bag semantics)")

  /** Ordered string aggregation (deterministic: elements sorted before
    * concatenation in both engines). */
  val q78StringAgg: Q = Q(
    "q78_string_agg",
    (s, d) =>
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
             count(lit(1)).as("n"))
        .orderBy(col("n_regionkey")),
    Some("""
      SELECT n_regionkey,
             string_agg(n_name, ',' ORDER BY n_name) AS nations,
             count(*) AS n
      FROM nation
      GROUP BY n_regionkey
      ORDER BY n_regionkey"""),
    doc = "ordered string aggregation (collect_list/string_agg)")

  /** FILTER-clause conditional aggregation — identical ANSI text runs on
    * both engines (spark.sql path). */
  val q79FilteredAgg: Q = Q(
    "q79_filtered_agg",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql(s"""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_quantity > 40) AS n_big,
               count(*) FILTER (WHERE l_discount = 0.0) AS n_nodisc,
               ${sqlDsum("l_extendedprice")} AS total
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },
    Some(s"""
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_quantity > 40) AS n_big,
             count(*) FILTER (WHERE l_discount = 0.0) AS n_nodisc,
             ${sqlDsum("l_extendedprice")} AS total
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "FILTER-clause conditional aggregation")

  /** Exact per-group quantiles (median + p90) — r21 OPTIMIZATION: the
    * value-at-rank `ceil(p·n)` is selected from per-(group, value)
    * COUNTS instead of a per-group row sort. The value at rank k in the
    * sorted stratum is the unique value whose cumulative-count interval
    * `(cum − cnt, cum]` contains k — identical to the r20 row_number
    * selection for every p (ties collapse into one counted row, and a
    * rank landing anywhere inside a tie run reads that run's value
    * either way). What changes is the SHAPE (guide §2.3, aggregate
    * before you shuffle): `GROUP BY (l_returnflag, l_quantity)`
    * partial-aggregates map-side, so the one full-data pass shuffles
    * ~|groups × distinct values| partial rows (4 × 50 here) instead of
    * every fact row, and the windows run over that tiny relation. The
    * r20 sort-based window shape shuffled the WHOLE fact table into ~4
    * stratum tasks and sorted each — the labeled 100 TB straggler this
    * family carried since r8 (its caveat steered production to q94's
    * approx twin). The exact query now has the same partial-agg scale
    * shape as the twin; q94 stays the bounded-memory choice only when
    * the value domain itself is huge (continuous doubles), where the
    * count relation degenerates to the row count.
    *
    * Equivalence: every rank r ∈ [1, n] satisfies exactly one value's
    * interval (cum is strictly increasing by cnt ≥ 1 and ends at n);
    * grouping doubles by value is exact here (same parquet bits; no
    * NaN/−0.0 in the domain — and Spark normalizes −0.0 group keys).
    * Oracle SQL unchanged — the DuckDB side still runs the sort-based
    * formulation, so the hash-compare is a cross-shape proof. */
  val q37ExactQuantiles: Q = Q(
    "q37_exact_quantiles",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        WITH c AS (
          SELECT l_returnflag, l_quantity, count(*) AS cnt
          FROM lineitem
          GROUP BY l_returnflag, l_quantity),
        r AS (
          SELECT l_returnflag, l_quantity, cnt,
                 sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
                 sum(cnt) OVER (PARTITION BY l_returnflag) AS n
          FROM c)
        SELECT l_returnflag,
               max(CASE WHEN cum - cnt < CAST(ceil(0.5 * n) AS BIGINT)
                         AND CAST(ceil(0.5 * n) AS BIGINT) <= cum THEN l_quantity END) AS median_qty,
               max(CASE WHEN cum - cnt < CAST(ceil(0.9 * n) AS BIGINT)
                         AND CAST(ceil(0.9 * n) AS BIGINT) <= cum THEN l_quantity END) AS p90_qty,
               max(n) AS n
        FROM r GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },
    Some("""
      WITH r AS (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
               count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
        FROM lineitem)
      SELECT l_returnflag,
             max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN l_quantity END) AS median_qty,
             max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_quantity END) AS p90_qty,
             CAST(max(n) AS BIGINT) AS n
      FROM r GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    doc = "exact per-group quantiles via sort-based rank selection (labeled exact baseline; scale twin q94)")

  /** SCALE TWIN of q37 (the q91/q93, q51/q55 exact/approx pattern): the
    * same per-group median + p90 via `percentile_approx` — a
    * partial-aggregated GK sketch that combines map-side, so no stratum
    * ever sorts inside one task and the plan survives a fact table
    * where one `l_returnflag` value holds 50 TB. Rank error is bounded
    * by n/accuracy (here n·1e-4); the sketch returns an actual data
    * value, not an interpolation, so the result is a member of the
    * group like q37's. No DuckDB oracle: the GK sketch is not
    * engine-replayable (same reason as q43/q44/q76/q93) — OperatorSpec
    * pins each approx value to within the sketch's rank tolerance of
    * q37's exact rank selection instead. */
  val q94QuantilesApprox: Q = Q(
    "q94_quantiles_approx",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_quantity"), array(lit(0.5), lit(0.9)), lit(10000))
            .as("qs"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("qs").getItem(0).as("median_qty"),
          col("qs").getItem(1).as("p90_qty"),
          col("n"))
        .orderBy(col("l_returnflag")),
    None,
    doc = "q37's scale twin: percentile_approx partial aggregation (no stratum sort)")

  def defs: Seq[Q] = Seq(q27RangeJoin, q28GroupingSets, q29ArrayFuncs, q37ExactQuantiles,
    q73FileFormats, q74MapFuncs, q75Pivot, q76ApproxDistinct,
    q77BagSetOps, q78StringAgg, q79FilteredAgg, q94QuantilesApprox)
}
