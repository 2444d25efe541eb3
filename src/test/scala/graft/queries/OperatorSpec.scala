package graft.queries

import graft.{SparkSpec, Tables}
import graft.functions.{CosineSimilarity, Text}
import org.apache.spark.sql.functions._

/** Correctness of the non-oracle (rows-only) operators, asserted against
  * brute-force / independent formulations on the sf0.001 fixture. */
class OperatorSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("codegen'd cosine_sim ≡ higher-order-function cosine, bit for bit") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, d).limit(100)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        expr("cosine_sim(a.embedding, b.embedding)").as("fast"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("ref"))
    val diffs = pairs.filter(col("fast") =!= col("ref")).count()
    assert(diffs == 0, "expression and HOF cosine must agree exactly")
    // mismatched dims → null on BOTH forms (zip_with pads with null),
    // never a silent min-length partial score
    val mm = spark.sql(
      "SELECT array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)) AS a, array(CAST(1 AS FLOAT)) AS b")
      .select(expr("cosine_sim(a, b)").as("fast"),
        Similarity.cosine(col("a"), col("b")).as("ref")).head()
    assert(mm.isNullAt(0) && mm.isNullAt(1),
      "mismatched-length cosine must be null on both forms")
  }

  test("MinHash+LSH finds every true near-dup pair the exact Jaccard join finds") {
    val docs = Tables.documents(spark, d)
    val truePairs = Dedup.q42NgramJaccard.fn(spark, d)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.minhashPairs(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step re-checks exact Jaccard → lsh ⊆ true; recall is
    // probabilistic but with 8 bands × 4 rows at J≥0.5 it should catch
    // effectively all fixture pairs
    assert(lshPairs.subsetOf(truePairs), "LSH must never emit a false positive (verified)")
    if (truePairs.nonEmpty) {
      val recall = lshPairs.size.toDouble / truePairs.size
      assert(recall >= 0.8, s"LSH recall $recall too low (${lshPairs.size}/${truePairs.size})")
    }
  }

  test("SimHash signatures are deterministic and identical docs collide") {
    val docs = Tables.documents(spark, d)
    val s1 = Dedup.simhashSignatures(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = Dedup.simhashSignatures(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2, "simhash must be run-deterministic")
    // identical text ⇒ identical signature
    val dup = docs.select(col("doc_id"), col("text"))
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")),
        col("text") === col("t2") && col("doc_id") < col("id2"))
      .select("doc_id", "id2").collect()
    dup.foreach(r => assert(s1(r.getLong(0)) == s1(r.getLong(1))))
  }

  private def bruteTop5: Set[(Long, Long)] =
    Similarity.q50CosineTopK.fn(spark, d)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallAt5(df: org.apache.spark.sql.DataFrame, brute: Set[(Long, Long)]): Double = {
    val got = df.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (brute.isEmpty) 1.0 else got.intersect(brute).size.toDouble / brute.size
  }

  test("LSH ANN recall@5: subset of brute force, printed, monotone in table count") {
    val brute = bruteTop5
    // candidate sets are nested in nTables → recall must not decrease;
    // tables=4 IS q52, so the sweep's last point doubles as its check
    val sweep = Seq(1, 2, 4).map(t => t -> recallAt5(Similarity.lshAnn(spark, d, t), brute))
    info(sweep.map { case (t, r) => f"recall@5[tables=$t]=$r%.3f" }.mkString("LSH ", ", ", ""))
    // approximate by construction; just require it to be meaningfully
    // better than random (500 vectors, 5 of ~62 same-bucket candidates)
    assert(sweep.last._2 >= 0.2, s"ANN recall@5 ${sweep.last._2} suspiciously low")
    sweep.sliding(2).foreach { case Seq((t1, r1), (t2, r2)) =>
      assert(r1 <= r2 + 1e-9, s"recall fell from $r1 (tables=$t1) to $r2 (tables=$t2)")
    }
  }

  test("md5 centroid sample is deterministic across input partitionings") {
    // the zipWithIndex cid numbering (r13) must reproduce the oracle's
    // row_number() OVER (ORDER BY md5, vec_id) regardless of how the
    // input happens to be partitioned — the property every ANN/SemDeDup
    // oracle replay rests on
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, d)
    def sample(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Float])] =
      Similarity.md5CentroidSample(spark, df, 16).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val one = sample(emb.repartition(1))
    val seven = sample(emb.repartition(7, col("vec_id")))
    val native = sample(emb)
    assert(one == seven && seven == native,
      "cid numbering must not depend on input partitioning")
    assert(one.map(_._1) == (1 to 16), "cids must be dense 1..k")
  }

  test("IVF ANN recall@5: printed, monotone in nProbe") {
    val brute = bruteTop5
    // nlist from the same adaptive rule as ivfIndex (k = max(16,
    // ⌈n/256⌉) — 16 at gate scale), so the sweep's last point always
    // probes EVERY cell regardless of corpus size
    val n = graft.Tables.embeddings(spark, d).count()
    val k = math.max(16L, math.ceil(n / 256.0).toLong).toInt
    val sweep = Seq(1, 4, k).map(p => p -> recallAt5(Similarity.ivfAnn(spark, d, p), brute))
    info(sweep.map { case (p, r) => f"recall@5[nProbe=$p]=$r%.3f" }.mkString("IVF ", ", ", ""))
    assert(sweep.find(_._1 == 4).get._2 >= 0.2, "IVF recall@5 at nProbe=4 suspiciously low")
    // probing all k of k cells = exhaustive search → recall 1.0 exactly
    assert(sweep.last._2 == 1.0, "nProbe=k must equal brute force")
    sweep.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r1 <= r2 + 1e-9, s"recall fell from $r1 (nProbe=$p1) to $r2 (nProbe=$p2)")
    }
  }

  test("adaptiveNProbe: constant at the design point, widened at the nlist floor") {
    import Similarity.adaptiveNProbe
    // design point: ~256-vector cells → nProbe pinned at 4–5 (exactly 4
    // when cells hit 256; k = ⌈n/256⌉ rounds cells DOWN, so the ceil can
    // add one — bounded, never growing with n)
    assert(adaptiveNProbe(nlist = 4000, n = 1024000) == 4)
    val dp = adaptiveNProbe(nlist = 782, n = 200000)
    assert(dp >= 4 && dp <= 5, s"design-point nProbe $dp outside [4, 5]")
    // nlist floor on a tiny corpus: coverage widens instead of collapsing
    assert(adaptiveNProbe(nlist = 16, n = 2000) > 4)
    // never past exhaustive, never under the 4-cell minimum
    assert(adaptiveNProbe(nlist = 16, n = 100) == 16)
    assert(adaptiveNProbe(nlist = 100, n = 100000000) == 4)
    // probe COST invariant: expected rescores nProbe·(n/nlist) stay
    // ~max(1024, 4·cell) — flat in corpus size for bounded cells
    Seq((16L, 2000L), (79L, 20000L), (235L, 60000L), (782L, 200000L))
      .foreach { case (k, n) =>
        val cost = adaptiveNProbe(k, n).toDouble * n / k
        assert(cost <= 1024 + 4.0 * n / k,
          s"probe cost $cost at (nlist=$k, n=$n) exceeds the flat bound")
      }
  }

  test("int8-quantized top-k keeps high recall vs exact float cosine (printed)") {
    val brute = bruteTop5
    val recall = recallAt5(Similarity.q54QuantizedTopK.fn(spark, d), brute)
    info(f"int8 recall@5=$recall%.3f")
    assert(recall >= 0.6, s"int8 quantization recall@5 $recall too low")
  }

  test("fused int8_dot ≡ HOF integer dot, and q54's plan uses the fused expression") {
    graft.functions.Int8Dot.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1, -2, 3, 127), Array(4, 5, -6, 127)),
      (Array(0, 0, 0, 0), Array(1, 2, 3, 4)),
      (Array(-127, -127), Array(-127, -127))).toDF("a", "b")
      // null ELEMENT must null the result, exactly like the HOF form
      .union(spark.sql("SELECT array(1, CAST(NULL AS INT), 3), array(1, 1, 1)"))
      // mismatched LENGTHS too (zip_with pads the short side with null)
      .union(spark.sql("SELECT array(1, 2, 3), array(1, 2)"))
    val both = df.select(
      expr("int8_dot(a, b)").as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x * y).cast("long")),
        lit(0L), (acc, v) => acc + v).as("ref"))
    assert(both.filter(!(col("fast") <=> col("ref"))).count() == 0,
      "fused and HOF integer dot products must agree exactly (incl. nulls)")
    assert(both.filter(col("fast").isNull).count() == 2,
      "exactly the null-element and mismatched-length rows must be null")
    val plan = Similarity.q54QuantizedTopK.fn(spark, d)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(plan.contains("int8dot"), s"q54 must score through the fused expression:\n$plan")
    assert(!plan.contains("zip_with"), "no interpreted HOF dot in the q54 hot path")
  }

  test("connected-components clustering equals driver-side union-find") {
    val pairs = Dedup.q42NgramJaccard.fn(spark, d)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, d).select("doc_id")
      .collect().map(_.getLong(0))
    // independent oracle: classic union-find over the same pairs
    val parent = scala.collection.mutable.Map(docs.map(x => x -> x): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.map(x => x -> find(x)).toMap
    val got = Dedup.q45DedupClusters.fn(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got.size == docs.length)
    // union-find roots are component-minimal here because unions always
    // keep the smaller root, matching min-label semantics
    assert(got == expected, "label propagation must agree with union-find")
  }

  test("reliable-checkpoint mode labels identically to localCheckpoint mode") {
    import graft.operators.ConnectedComponents
    val pairs = Dedup.q42NgramJaccard.fn(spark, d).select("id_a", "id_b")
    val docs = Tables.documents(spark, d).select("doc_id")
    val local = ConnectedComponents.label(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reliable mode refuses to run without a checkpoint dir
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    intercept[IllegalArgumentException] {
      ConnectedComponents.label(docs, pairs, reliable = true)
    }
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val rel = ConnectedComponents.label(docs, pairs, reliable = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rel == local, "both checkpoint strategies must produce one labeling")
    } finally {
      // leave no checkpoint-dir state behind for other suites — unset
      // the dir itself too (null → None), so their no-dir refusal
      // checks see the shared session pristine
      spark.sparkContext.setCheckpointDir(null)
      graft.util.Dirs.rmrf(ckptDir.toFile)
    }
  }

  test("language ID predicts a declared language and is deterministic") {
    val out = TextOps.q34LangId.fn(spark, d).collect()
    assert(out.length == Tables.documents(spark, d).count())
    val langs = Set("en", "de", "es", "fr", "pt", "zh", "und")
    out.foreach(r => assert(langs(r.getAs[String]("pred_lang"))))
  }

  test("fingerprint64 is order-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha"),
      (4L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), Text.fingerprint64(col("text")).as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L), "same text, same fingerprint")
    assert(m(1L) != m(3L), "token order must change the fingerprint")
    assert(m.contains(4L), "empty text still fingerprints")
  }

  test("media decode stub is deterministic and schema-stable") {
    val a = Multimodal.q61MediaFeatures.fn(spark, d)
    val b = Multimodal.q61MediaFeatures.fn(spark, d)
    assert(a.schema.fieldNames.toSeq ==
      Seq("doc_id", "mime", "n_bytes", "width", "height", "n_frames") ++
        (0 until 8).map(j => s"f$j"))
    assert(a.exceptAll(b).count() == 0)
    val r = a.filter(col("doc_id") === 0).collect().head
    assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("width") < 256)
    (0 until 8).foreach { j =>
      val f = r.getAs[Double](s"f$j")
      assert(f >= 0.0 && f <= 1.0, s"f$j out of range: $f")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = Extras.q76ApproxDistinct.fn(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, d).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("frame sampling is deterministic and honors the stride") {
    val a = Multimodal.q62FrameSample.fn(spark, d).collect()
    val b = Multimodal.q62FrameSample.fn(spark, d).collect()
    assert(a.toSeq == b.toSeq, "frame sampling must be deterministic")
    // stride 2 → only even frame indices
    assert(a.forall(_.getAs[Int]("frame_idx") % 2 == 0))
    // frame count per doc == ceil(n_frames / 2) of the decode stub
    val frames = Multimodal.q61MediaFeatures.fn(spark, d)
      .select("doc_id", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val perDoc = a.groupBy(_.getAs[Long]("doc_id")).map { case (k, v) => k -> v.length }
    perDoc.foreach { case (id, n) => assert(n == (frames(id) + 1) / 2, s"doc $id") }
  }

  test("shingles produce n-2 word 3-grams and [] for short docs") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b", "").toDF("text")
      .select(Text.shingles(col("text"), 3).as("sh"))
    val got = df.collect().map(_.getAs[scala.collection.Seq[String]]("sh").toSeq)
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("sampleFrames frame count comes from the decode kernel (codec-swap safe)") {
    import graft.operators.MediaDecode
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    // stride 1 → one output row per decoded frame
    val sampled = MediaDecode.sampleFrames(docs, everyK = 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = docs.collect().map { r =>
      val p = Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray)
      r.getLong(0) -> MediaDecode.decodeStub(p).frames.toLong
    }.toMap
    assert(sampled == expected,
      "stride-1 sampleFrames count must equal decodeWith's frame count for every doc")
  }

  test("tokenizer whitespace class matches RE2: \\x0B joins, \\f splits") {
    import spark.implicits._
    // Java regex \s includes \x0B; RE2 (the oracle's engine) does not.
    // The explicit [ \t\n\r\f]+ class must behave identically on both:
    // \x0B is token-internal, \f is a separator.
    val df = Seq("a\u000Bb c", "x\fy", "p  q").toDF("text")
    val toks = df.select(Text.tokens(col("text")).as("t")).collect()
      .map(_.getAs[scala.collection.Seq[String]]("t").toSeq)
    assert(toks(0) == Seq("a\u000Bb", "c"), "\\x0B must not split a token")
    assert(toks(1) == Seq("x", "y"), "\\f must split")
    assert(toks(2) == Seq("p", "q"), "runs of spaces collapse")
  }

  test("decode operators map a NULL payload to the empty payload (oracle coalesce contract)") {
    import graft.operators.MediaDecode
    import spark.implicits._
    // the q61/q62/q63 oracles spell md5(coalesce(text,'')) — the Spark
    // side must therefore decode NULL exactly like the empty payload
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    def keyed(out: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      out.collect().map(r => r.getAs[Long]("doc_id") -> cols.map(r.getAs[Any])).toMap
    val feats = keyed(MediaDecode.extractFeatures(df.withColumn("mime", lit("image/fake"))),
      Seq("n_bytes", "width", "height", "n_frames"))
    assert(feats(1L) == feats(2L), "extractFeatures(NULL) must equal extractFeatures('')")
    val thumbs = keyed(MediaDecode.thumbnail(df, box = 64),
      Seq("thumb_w", "thumb_h", "thumb_hash"))
    assert(thumbs(1L) == thumbs(2L), "thumbnail(NULL) must equal thumbnail('')")
    val frames = MediaDecode.sampleFrames(df, everyK = 1).collect()
      .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.map(_.getAs[String]("frame_hash")).toSeq).toMap
    assert(frames(1L) == frames(2L), "sampleFrames(NULL) must equal sampleFrames('')")
  }

  test("LSH near-dup pairs are a subset of the exact O(n²) join, scores identical") {
    val exact = Similarity.q51CosineNearDup.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.q55LshNearDup.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact verification → no false positives, and the verified score is
    // the same double the exact join computes
    lsh.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"pair $pair not in exact join or score differs")
    }
    if (exact.isEmpty) info("driver corpus has no cosine>=0.9 pairs; see synthetic test below")
  }

  test("LSH near-dup pairs on a synthetic corpus with true near-dups: recall printed") {
    import spark.implicits._
    // the driver corpus is near-orthogonal (max pairwise cos ≈ 0.6), so
    // build a corpus where ground truth exists: 40 gaussian vectors + 15
    // perturbed copies at cos ≈ 0.99
    val rnd = new scala.util.Random(42)
    val dim = graft.functions.LshBuckets.BakedDim
    val base = (0 until 40).map(i =>
      i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = (0 until 15).map { i =>
      val (id, v) = base(i)
      (100L + id) -> v.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
    }
    val all = base ++ dups
    val df = all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      (i, u) <- all; (j, w) <- all if i < j && cosL(u, w) >= 0.9
    } yield (i, j)).toSet
    assert(truth.size >= 15, s"fixture must contain its ${dups.size} planted pairs, got ${truth.size}")
    val got = Similarity.lshNearDupPairs(df, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "exact verification must kill every false positive")
    val recall = got.size.toDouble / truth.size
    info(f"synthetic LSH near-dup recall=$recall%.3f (${got.size}/${truth.size})")
    // 4 tables × 4 planes at cos ≥ 0.9 → expected recall ≈ 0.95
    assert(recall >= 0.8, s"near-dup recall $recall too low")
  }

  test("q94 approx quantiles stay within sketch rank tolerance of q37's exact ranks") {
    // q37 is the stratum-bounded exact baseline (whole-table sort inside
    // ~4 tasks); q94 is its partial-aggregated percentile_approx twin.
    // The GK sketch guarantees the returned value occupies a rank within
    // eps*n of the target, eps = 1/accuracy — pin exactly that.
    val accuracy = 10000.0
    val byFlag = Tables.lineitem(spark, d)
      .select(col("l_returnflag").as("f"), col("l_quantity").cast("double").as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (f, rows) => f -> rows.map(_._2).sorted }
    val approx = Extras.q94QuantilesApprox.fn(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(approx.map(_._1).toSet == byFlag.keySet, "one output row per stratum")
    approx.foreach { case (f, med, p90, n) =>
      val vals = byFlag(f)
      assert(n == vals.length, s"group count for '$f'")
      val tol = math.max(1.0, math.ceil(n / accuracy))
      Seq(0.5 -> med, 0.9 -> p90).foreach { case (p, v) =>
        assert(vals.contains(v), s"p$p for '$f': $v must be an actual group value")
        // ranks the value v occupies: (lo, hi]
        val lo = vals.count(_ < v)
        val hi = vals.count(_ <= v)
        val target = math.ceil(p * n)
        assert(target >= lo + 1 - tol && target <= hi + tol,
          s"p$p for '$f': value $v occupies ranks (${lo + 1}..$hi) of $n, " +
            s"target rank $target exceeds sketch tolerance $tol")
      }
    }
  }

  test("shingle cache is LRU-of-1: touching a second corpus evicts the first") {
    Dedup.releaseShingles()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.q42NgramJaccard.fn(spark, d).queryExecution.toRdd.count()
    val first = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(first.nonEmpty)
    // a different corpus dir (same data via a symlink-free copy of the
    // path string is enough — the cache keys on the dir string)
    val d2 = "/root/testdata/sf0.001/" // same corpus, distinct key
    Dedup.q42NgramJaccard.fn(spark, d2).queryExecution.toRdd.count()
    val now = spark.sparkContext.getPersistentRDDs.keySet
    assert(first.intersect(now).isEmpty,
      "the first corpus's shingle blocks must be unpersisted on eviction")
    Dedup.releaseShingles()
  }

  test("releaseShingles frees the persisted shingle blocks") {
    Dedup.releaseShingles() // reset whatever earlier tests cached
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.q42NgramJaccard.fn(spark, d).queryExecution.toRdd.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the dedup pass should persist the shingle relation")
    Dedup.releaseShingles()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.intersect(after).isEmpty, "released shingle blocks must be gone")
    // and the next dedup query transparently re-persists + still works
    assert(Dedup.q42NgramJaccard.fn(spark, d).count() >= 0)
  }

  test("q103 semantic dedup: survivors are pairwise below τ, dups have a witness") {
    graft.functions.CosineSimilarity.register(spark)
    val out = Similarity.q103SemanticDedup.fn(spark, d).cache()
    try {
      val emb = graft.Tables.embeddings(spark, d)
      val withVec = out.join(emb, Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("is_dup"), col("embedding"))
      assert(out.filter(col("is_dup")).count() > 0, "τ must bite (vacuity guard)")
      // maximality: two SURVIVORS in one cell are never τ-close — else
      // one of them had a smaller-id witness and had to be marked dup
      val survivors = withVec.filter(!col("is_dup"))
      val closePairs = survivors.as("a").join(survivors.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_sim(a.embedding, b.embedding)") >= 0.35)
        .count()
      assert(closePairs == 0, "survivor set must be τ-separated within each cell")
      // soundness: every dup has a smaller-id τ-close witness IN ITS CELL
      val dups = withVec.filter(col("is_dup"))
      val witnessed = dups.as("dp").join(withVec.as("w"),
          col("w.cell") === col("dp.cell") && col("w.vec_id") < col("dp.vec_id") &&
          expr("cosine_sim(w.embedding, dp.embedding)") >= 0.35, "left_semi")
      assert(witnessed.count() == dups.count(),
        "every dup flag needs an in-cell smaller-id witness")
    } finally out.unpersist()
  }

  test("q114 hierarchical dedup: flat invariants hold; planted exact twins always flagged") {
    graft.functions.CosineSimilarity.register(spark)
    // the within-cell dedup invariants are assignment-agnostic — they
    // must hold under two-level routing exactly as under q103's flat one
    val out = Similarity.q114SemanticDedupHier.fn(spark, d).cache()
    try {
      val emb = graft.Tables.embeddings(spark, d)
      val withVec = out.join(emb, Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("is_dup"), col("embedding"))
      val survivors = withVec.filter(!col("is_dup"))
      val closePairs = survivors.as("a").join(survivors.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_sim(a.embedding, b.embedding)") >= 0.35)
        .count()
      assert(closePairs == 0, "survivor set must be τ-separated within each cell")
      val dups = withVec.filter(col("is_dup"))
      val witnessed = dups.as("dp").join(withVec.as("w"),
          col("w.cell") === col("dp.cell") && col("w.vec_id") < col("dp.vec_id") &&
          expr("cosine_sim(w.embedding, dp.embedding)") >= 0.35, "left_semi")
      assert(witnessed.count() == dups.count(),
        "every dup flag needs an in-cell smaller-id witness")
    } finally out.unpersist()
    // greedy two-level routing is deterministic per VECTOR VALUE, so an
    // exact twin always lands in its original's cell and must be flagged
    // (cos = 1 ≥ τ, twin id is larger by construction)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hier-twins").toString
    val base = graft.Tables.embeddings(spark, d)
    val twins = base.limit(50).withColumn("vec_id", col("vec_id") + 1000000L)
    base.unionByName(twins).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out2 = Similarity.q114SemanticDedupHier.fn(spark, tmp)
    val flagged = out2.filter(col("vec_id") >= 1000000L && col("is_dup")).count()
    assert(flagged == 50,
      s"all 50 planted exact twins must be flagged dup, got $flagged")
  }

  test("q50/q51 exact anchors refuse to run above the row fence unless forced") {
    val restore = spark.conf.getOption("graft.exactAnchorMaxRows")
    try {
      spark.conf.set("graft.exactAnchorMaxRows", "100") // fixture has 500
      intercept[IllegalArgumentException] {
        Similarity.q50CosineTopK.fn(spark, d)
      }
      intercept[IllegalArgumentException] {
        Similarity.q51CosineNearDup.fn(spark, d)
      }
      // the explicit acknowledgment overrides the fence
      spark.conf.set("graft.allowExactAnchors", "true")
      assert(Similarity.q50CosineTopK.fn(spark, d).limit(1).count() == 1)
    } finally {
      spark.conf.unset("graft.allowExactAnchors")
      restore match {
        case Some(v) => spark.conf.set("graft.exactAnchorMaxRows", v)
        case None => spark.conf.unset("graft.exactAnchorMaxRows")
      }
    }
  }

  test("q112 plan broadcasts both count tables (corpus bigrams never shuffle for the joins)") {
    val df = TextOps.q112BigramLm.fn(spark, d)
    df.collect() // finalize the AQE plan — the broadcast decision is runtime
    val plan = df.queryExecution.executedPlan.toString()
    // the cbi (w1,w2) and cleft (w1) joins must both resolve to
    // broadcasts: the big side is the per-bigram corpus stream, and a
    // shuffle there would move the whole corpus twice
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBhj >= 2, s"both count-table joins must broadcast, got $nBhj:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-side shuffle join expected at gate scale:\n$plan")
  }

  test("PQ top-k (q120): codes are 4-bit, every score exact, recall printed") {
    CosineSimilarity.register(spark)
    val brute = bruteTop5
    val out = Similarity.q120PqTopK.fn(spark, d)
    val rows = out.collect()
    assert(rows.nonEmpty, "PQ top-k produced no rows")
    // every emitted (q, n, cos) must be the EXACT float cosine — the
    // re-rank reads the raw embeddings, so quantization may cost recall
    // but can never perturb a score
    val emb = Tables.embeddings(spark, d)
    val exact = out.select(col("q_id"), col("n_id"), col("cos_r"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("cos_r"), round(expr("cosine_sim(qe, ne)"), 6).as("want"))
      .filter(col("cos_r") =!= col("want")).count()
    assert(exact == 0, "PQ re-ranked scores must equal exact cosine")
    val recall = recallAt5(out, brute)
    info(f"PQ recall@5=$recall%.3f (M=8 subspaces, K=16 codewords, R=20)")
    // approximate by construction on a near-orthogonal random corpus;
    // require meaningfully-better-than-random, like the LSH/IVF floors
    assert(recall >= 0.2, s"PQ recall@5 $recall suspiciously low")
    // the compression claim: every vector carries exactly M codes, each
    // in [1, K] — i.e. 4 bits/code, M·4 bits/vector
    val raw = Tables.embeddings(spark, d)
    val dbl = raw.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("emb"))
    val codes = Similarity.pqEncode(dbl, Similarity.pqCodebook(spark, raw))
    val n = raw.count()
    assert(codes.count() == n * Similarity.PqM, "exactly M codes per vector")
    assert(codes.filter(col("code") < 1 || col("code") > Similarity.PqK).count() == 0,
      s"codes must fit 4 bits (1..${Similarity.PqK})")
  }

  test("codegen'd dot_d ≡ higher-order-function double dot, bit for bit") {
    graft.functions.DoubleDot.register(spark)
    val e = Tables.embeddings(spark, d).limit(100)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        expr("dot_d(a.emb, b.emb)").as("fast"),
        Similarity.dotdHof(col("a.emb"), col("b.emb")).as("ref"))
    val diffs = pairs.filter(col("fast") =!= col("ref")).count()
    assert(diffs == 0, "expression and HOF double dot must agree exactly")
    // mismatched dims → null on BOTH forms (zip_with pads with null),
    // never a silent min-length partial dot
    val mm = spark.sql(
      "SELECT array(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)) AS a, array(CAST(3 AS DOUBLE)) AS b")
      .select(expr("dot_d(a, b)").as("fast"),
        Similarity.dotdHof(col("a"), col("b")).as("ref")).head()
    assert(mm.isNullAt(0) && mm.isNullAt(1),
      "mismatched-length dot_d must be null on both forms")
  }

  test("IVF-PQ (q122): scores exact, recall printed vs exact and vs parent IVF") {
    CosineSimilarity.register(spark)
    val brute = bruteTop5
    val out = Similarity.q122IvfPq.fn(spark, d)
    assert(out.collect().nonEmpty, "IVF-PQ produced no rows")
    // the exact-re-rank contract, same as q120: emitted scores are the
    // exact float cosine, composition may only cost recall
    val emb = Tables.embeddings(spark, d)
    val wrong = out.select(col("q_id"), col("n_id"), col("cos_r"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("cos_r"), round(expr("cosine_sim(qe, ne)"), 6).as("want"))
      .filter(col("cos_r") =!= col("want")).count()
    assert(wrong == 0, "IVF-PQ re-ranked scores must equal exact cosine")
    val r122 = recallAt5(out, brute)
    val r53 = recallAt5(Similarity.ivfAnn(spark, d, 4), brute)
    info(f"IVF-PQ recall@5=$r122%.3f (parent IVF nProbe=4: $r53%.3f)")
    assert(r122 >= 0.2, s"IVF-PQ recall@5 $r122 suspiciously low")
  }

  test("BM25 (q121) matches an independent in-memory reimplementation") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val terms = Seq("table", "vector", "customer", "stream")
    def toks(t: String): Seq[String] =
      if (t.trim.isEmpty) Seq.empty else t.trim.split("[ \t\n\r\f]+").toSeq
    val n = docs.length.toDouble
    val dl = docs.map { case (id, t) => id -> toks(t).size }
      .filter(_._2 > 0).toMap // zero-token docs have no tf rows
    val avgdl = dl.values.sum.toDouble / dl.size
    val tf = docs.flatMap { case (id, t) =>
      toks(t).filter(terms.contains).groupBy(identity)
        .map { case (w, ws) => (id, w, ws.size) }
    }
    val df = tf.groupBy(_._2).map { case (w, rows) => w -> rows.size }
    val scores = tf.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map { case (_, w, f) =>
        math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5)) *
          (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))
      }.sum
    }
    val want = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val got = TextOps.q121Bm25.fn(spark, d)
      .select("rk", "doc_id", "bm25_r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == want.map(_._1),
      s"BM25 top-10 doc order diverged: got ${got.map(_._2).toSeq} want ${want.map(_._1)}")
    got.zip(want).foreach { case ((_, id, sc), (_, wsc)) =>
      assert(math.abs(sc - wsc) < 1e-6, s"BM25 score for doc $id: $sc vs $wsc")
    }
  }

  test("hybrid RRF (q123) matches a hand fusion of its two arms") {
    import org.apache.spark.sql.functions.col
    // the arms via the engine's own helpers (bounded: ≤20 rows each)
    val idx = Similarity.ivfIndex(spark, d)
    val qv = Tables.embeddings(spark, d).filter(col("vec_id") === 7)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val vec = Similarity.ivfProbe(spark, idx, qv, nProbe = 4, topK = 20)
      .select("n_id", "rk").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kw = TextOps.bm25Ranked(spark, d).filter(col("rk") <= 20)
      .select("doc_id", "rk").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fused = (vec.keySet ++ kw.keySet).toSeq.map { id =>
      val rrf = vec.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        kw.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      val arm =
        if (vec.contains(id) && kw.contains(id)) "both"
        else if (vec.contains(id)) "vec" else "kw"
      (id, rrf, arm)
    }.sortBy { case (id, rrf, _) => (-rrf, id) }.take(10)
    val got = Similarity.q123HybridRrf.fn(spark, d)
      .select("rk", "doc_id", "rrf_r", "arm").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (1 to got.length),
      s"ranks must be dense 1..k: ${got.map(_._1).toSeq}")
    assert(got.map(_._2).toSeq == fused.map(_._1),
      s"fused order diverged: got ${got.map(_._2).toSeq} want ${fused.map(_._1)}")
    got.zip(fused).foreach { case ((_, id, rrf, arm), (_, wrrf, warm)) =>
      assert(math.abs(rrf - wrrf) < 1e-6, s"rrf for doc $id: $rrf vs $wrrf")
      assert(arm == warm, s"arm for doc $id: $arm vs $warm")
    }
    // at least one doc must be keyword-only or vec-only in a healthy
    // fusion of two 20-deep arms over different signals
    info(s"arm mix: ${got.groupBy(_._4).view.mapValues(_.length).toMap}")
  }

  test("MMR re-rank (q124) matches a hand greedy selection") {
    import org.apache.spark.sql.functions.{broadcast, col, transform}
    val idx = Similarity.ivfIndex(spark, d)
    val qv = Tables.embeddings(spark, d).filter(col("vec_id") === 7)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val embD = Tables.embeddings(spark, d).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("emb"))
    val cands = embD
      .join(broadcast(Similarity.ivfProbe(spark, idx, qv, nProbe = 4, topK = 20)),
        col("vec_id") === col("n_id"))
      .select("n_id", "cos_r", "emb").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // hand greedy: argmin of (10 - score, id) — the engine's exact key
    var rem = cands.toList
    var sel = List.empty[(Long, Double, Array[Double])]
    val picks = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
    for (_ <- 1 to 10 if rem.nonEmpty) {
      val scored = rem.map { case (id, rel, e) =>
        val maxsim = if (sel.isEmpty) 0.0 else sel.map(s => cos(e, s._3)).max
        val score = 0.7 * rel - 0.3 * maxsim
        ((10.0 - score, id), id, score, e)
      }
      val best = scored.minBy(_._1)
      picks += ((best._2, best._3))
      sel = sel :+ ((best._2, best._3, best._4))
      rem = rem.filterNot(_._1 == best._2)
    }
    val got = Similarity.q124MmrRerank.fn(spark, d)
      .select("rk", "doc_id", "mmr_r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == picks.map(_._1).toSeq,
      s"greedy order diverged: got ${got.map(_._2).toSeq} want ${picks.map(_._1).toSeq}")
    got.zip(picks).foreach { case ((_, id, m), (_, wm)) =>
      assert(math.abs(m - wm) < 1e-6, s"mmr for doc $id: $m vs $wm")
    }
    // diversification must actually reorder: the MMR order differs
    // from the pure-relevance order whenever near-dup candidates exist
    val relOrder = cands.sortBy { case (id, rel, _) => (-rel, id) }
      .take(10).map(_._1).toSeq
    info(s"reordered vs pure relevance: ${got.map(_._2).toSeq != relOrder}")
  }

  test("PQ Lloyd step (q125) never increases quantization error") {
    import org.apache.spark.sql.functions.{col, transform => stransform}
    def num(v: Any): Long = v.asInstanceOf[Number].longValue
    val raw = Tables.embeddings(spark, d)
    val dbl = raw.select(col("vec_id"),
      stransform(col("embedding"), _.cast("double")).as("emb"))
    val seedCb = Similarity.pqCodebook(spark, raw)
      .select("m", "j", "cw").collect()
      .map(r => (num(r.get(0)), num(r.get(1))) -> r.getSeq[Double](2).toArray)
      .toMap
    // q125 emits scalar (m, j, pos, mu) rows (driver-hashable);
    // reassemble codewords here for the SSE computation
    val refinedCb = Similarity.q125PqRefine.fn(spark, d)
      .select("m", "j", "pos", "mu").collect()
      .map(r => (num(r.get(0)), num(r.get(1)), num(r.get(2)), r.getDouble(3)))
      .groupBy { case (m, j, _, _) => (m, j) }
      .map { case (k, rows) => k -> rows.sortBy(_._3).map(_._4).toArray }
    val codes = Similarity.pqEncode(dbl, Similarity.pqCodebook(spark, raw))
      .select("vec_id", "m", "code").collect()
      .map(r => (num(r.get(0)), num(r.get(1))) -> num(r.get(2))).toMap
    val embs = dbl.select("vec_id", "emb").collect()
      .map(r => num(r.get(0)) -> r.getSeq[Double](1).toArray)
    def sse(cb: Map[(Long, Long), Array[Double]]): Double =
      embs.iterator.flatMap { case (vid, e) =>
        (1 to 8).map { m =>
          val sv = e.slice((m - 1) * 8, m * 8)
          val cw = cb((m.toLong, codes((vid, m.toLong))))
          sv.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
        }
      }.sum
    val before = sse(seedCb)
    val after = sse(refinedCb)
    info(f"quantization SSE: seed=$before%.4f refined=$after%.4f")
    assert(after <= before,
      f"Lloyd step increased SSE: $before%.6f -> $after%.6f")
    assert(after < before,
      "Lloyd step moved no codeword — refinement is a no-op on this corpus")
  }

  test("streaming dedup (q126): first-seen keepers, cross-batch suppression, idempotent replay") {
    import org.apache.spark.sql.functions.{col, lower, md5, min, substring}
    val got = KvQueries.q126StreamDedup.fn(spark, d)
      .select("fp", "keep_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.documents(spark, d)
      .groupBy(md5(lower(substring(col("text"), 1, 40)).cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "streaming keepers must equal the batch GROUP BY")
    // the fingerprint must actually collide — otherwise this dedups nothing
    val nDocs = Tables.documents(spark, d).count()
    assert(got.size < nDocs,
      s"no duplicate fingerprints in corpus (${got.size} of $nDocs) — test is vacuous")
    // cross-batch suppression: some fp group must span the staged
    // version boundaries (keeper in an early commit, dup in a later one)
    val spans = Tables.documents(spark, d)
      .select(md5(lower(substring(col("text"), 1, 40)).cast("binary")).as("fp"),
        col("doc_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).values
      .count(g => g.map(_._2 / (nDocs / 3)).distinct.size > 1)
    info(s"dup groups spanning version boundaries: $spans")
    assert(spans > 0, "no dup group crosses a batch boundary — suppression untested")
    // idempotent replay: re-feeding the ENTIRE staged table as one more
    // batch against the landed keeper table must find nothing fresh —
    // the exactly-once contract a crashed-and-replayed foreachBatch rides
    val sinkDir = s"${KvQueries.incDocsDir(spark, d)}-keepers"
    val landed = spark.read.format("graft-kv")
      .option("catalog", KvQueries.keepersCatalogJson)
      .option("path", sinkDir).load()
    val replay = Tables.documents(spark, d)
      .groupBy(md5(lower(substring(col("text"), 1, 40)).cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"))
      .join(landed.select("fp"), Seq("fp"), "left_anti")
    assert(replay.count() == 0,
      "replaying the full feed against the keeper table must append nothing")
  }

  test("filtered ANN (q129): every hit allowed, recall holds vs exact filtered truth") {
    import org.apache.spark.sql.functions.col
    val en = Tables.documents(spark, d).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(en.nonEmpty && en.size < Tables.documents(spark, d).count(),
      "the lang filter must be selective for this test to mean anything")
    val got = Similarity.q129FilteredAnn.fn(spark, d)
      .select("q_id", "rk", "n_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall { case (_, _, n) => en.contains(n) },
      "a filtered probe must never emit a disallowed candidate")
    // exact filtered ground truth: brute-force cosine among allowed docs
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val hits = (0L until 20L).map { q =>
      val truth = en.toSeq.filter(n => n != q && embs.contains(n))
        .map(n => (cos(embs(q), embs(n)), n))
        .sortBy { case (c, n) => (-c, n) }.take(5).map(_._2).toSet
      val mine = got.filter(_._1 == q).map(_._3).toSet
      (mine intersect truth).size.toDouble / math.max(1, truth.size)
    }
    val recall = hits.sum / hits.size
    info(f"filtered recall@5 = $recall%.3f over 20 queries")
    assert(recall >= 0.6, f"filtered ANN recall@5 $recall%.3f below floor")
  }
}
