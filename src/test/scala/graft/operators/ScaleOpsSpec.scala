package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale-technique demonstrations: salted skew joins and bucketed
  * (pre-shuffled) co-located joins. */
class ScaleOpsSpec extends SparkSpec {

  test("salted join equals plain join on a skewed dataset") {
    import spark.implicits._
    // 90% of rows hit key 1 (hot), the rest spread over 1000 keys
    val big = (1 to 20000).map { i =>
      val k = if (i % 10 != 0) 1L else (i % 1000).toLong
      (k, s"row$i")
    }.toDF("k", "payload")
    val small = (0L to 1000L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = big.join(small, Seq("k"), "inner")
      .select("k", "payload", "name")
    val salted = SkewJoin.saltedJoin(big, small, "k", 8)
      .select("k", "payload", "name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0)
    assert(plain.except(salted).count() == 0)
  }

  test("fully duplicate rows of a hot key occupy more than one salt bucket") {
    import spark.implicits._
    // every row is IDENTICAL — a content-only salt hash would put all of
    // them in a single bucket, recreating the skew the salt should break
    val dup = (1 to 10000).map(_ => (1L, "dup")).toDF("k", "payload")
      .repartition(8)
    val buckets = dup.withColumn("_salt", SkewJoin.saltExpr(dup, 8))
      .select("_salt").distinct().count()
    assert(buckets > 1, s"identical hot-key rows collapsed into $buckets salt bucket(s)")
  }

  test("star contraction equals union-find on a random mixed graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: ~40 components of varied shape
    // (chains, stars, cliques-ish) + isolated vertices
    val rnd = new scala.util.Random(42)
    val n = 5000L
    val pairs = (1 to 8000).map { _ =>
      val c = rnd.nextInt(40) // component
      val a = c * 100L + rnd.nextInt(100)
      val b = c * 100L + rnd.nextInt(100)
      (a, b)
    }.toDF("id_a", "id_b")
    val verts = spark.range(0L, n).toDF("doc_id")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0L until n).map(x => x -> find(x)).toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val got = ConnectedComponents.labelAlternating(verts, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == n)
      assert(got == expected, "star contraction must agree with union-find")
      // and with min-label propagation (the default algorithm)
      val viaProp = ConnectedComponents.label(verts, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaProp == got, "both CC algorithms must produce one labeling")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("star contraction's reliable-checkpoint mode labels identically to localCheckpoint mode") {
    // same dual-mode contract as propagation (OperatorSpec pins label's):
    // reliable=true must refuse without a checkpoint dir, and with one
    // set must produce the identical labeling — per-round checkpoints
    // change fault-tolerance, never semantics
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val len = 256L
    val chain = spark.range(0L, len - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val verts = spark.range(0L, len).toDF("doc_id")
    try {
      val local = ConnectedComponents.labelAlternating(verts, chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] {
        ConnectedComponents.labelAlternating(verts, chain, reliable = true)
      }
      val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-alt-ckpt")
      spark.sparkContext.setCheckpointDir(ckptDir.toString)
      try {
        val rel = ConnectedComponents.labelAlternating(verts, chain, reliable = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(rel == local, "both checkpoint strategies must produce one labeling")
      } finally {
        // unset (null → None) so other suites' no-dir refusal checks
        // still see the shared session pristine
        spark.sparkContext.setCheckpointDir(null)
        graft.util.Dirs.rmrf(ckptDir.toFile)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("star contraction converges on a chain where propagation's round budget explodes") {
    // a single long path: diameter = length. Min-label propagation needs
    // one round PER HOP — the documented long-diameter failure mode —
    // while star contraction closes the whole chain in ~log2(n) rounds
    // (measured: 13 rounds at 3000 links). Both loops run hundreds of
    // driver-scheduled micro-jobs here, so the test trims partitions and
    // the propagation round budget to keep suite wall-clock sane; the
    // semantics under test (converges vs refuses) don't depend on either.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val len = 1024L
      val chain = spark.range(0L, len - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val verts = spark.range(0L, len).toDF("doc_id")
      val labeled = ConnectedComponents.labelAlternating(verts, chain, maxRounds = 20)
      assert(labeled.filter(col("cluster_id") =!= 0L).count() == 0,
        "every chain vertex must label to the component minimum 0")
      // propagation can cross at most maxRounds hops of the 1023-hop
      // chain — it must refuse loudly, not mislabel
      intercept[IllegalArgumentException] {
        ConnectedComponents.label(verts, chain, maxRounds = 8).collect()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("labelAuto stays on frontier propagation for dense clusters, escalates on a chain") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      import spark.implicits._
      // dense near-dup clusters: converges in 2-3 frontier rounds
      val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val verts = spark.range(0L, 15L).toDF("doc_id")
      val fast = ConnectedComponents.labelAuto(verts, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!ConnectedComponents.lastEscalated,
        "a diameter-2 graph must not escalate to star contraction")
      assert(fast(3L) == 1L && fast(11L) == 10L && fast(7L) == 7L)
      // chain: diameter exceeds the escalation budget — same call must
      // hand off to star contraction and still label to the minimum
      val len = 256L
      val chain = spark.range(0L, len - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val chainVerts = spark.range(0L, len).toDF("doc_id")
      val labeled = ConnectedComponents.labelAuto(chainVerts, chain, escalateAfter = 4)
      assert(labeled.filter(col("cluster_id") =!= 0L).count() == 0,
        "escalated labeling must still reach the component minimum")
      assert(ConnectedComponents.lastEscalated,
        "a 255-hop chain must escalate past a 4-round frontier budget")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("label() records per-round frontier sizes ending at the fixpoint witness") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val verts = spark.range(0L, 20L).toDF("doc_id")
    ConnectedComponents.label(verts, pairs).collect()
    val sizes = ConnectedComponents.lastFrontierSizes
    assert(sizes.nonEmpty && sizes.last == 0L,
      s"frontier log must end with the empty-frontier fixpoint witness: $sizes")
    assert(sizes.head > 0L, s"round 1 must have moved labels on this graph: $sizes")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    val db = "graft_bucket_test"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val a = (1L to 10000L).map(k => (k, k * 2)).toDF("k", "va")
    val b = (1L to 10000L).map(k => (k, k * 3)).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable(s"$db.bucketed_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable(s"$db.bucketed_b")
    val joined = spark.table(s"$db.bucketed_a")
      .join(spark.table(s"$db.bucketed_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == 10000L)
  }
}
