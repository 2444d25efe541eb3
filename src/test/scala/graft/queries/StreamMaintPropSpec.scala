package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => PropTest}

/** Property fuzz of the STREAMING maintenance batch step (r17) over
  * random batch schedules — the per-micro-batch primitive behind q132
  * (inverted index) and q133 (IVF), exercised the way a real stream
  * delivers work: the corpus tail is split at random cut points into
  * 1–4 arrival batches, [[Bm25Store.maintainBatch]] /
  * [[IvfStore.maintainBatch]] runs once per arrival, and
  *
  *  - after EVERY step the probe through the maintained index must
  *    equal the direct pipeline over the prefix indexed so far
  *    (BM25) / a twin index maintained with ONE batch of the same
  *    prefix (IVF — identical frozen centroids by the deterministic
  *    md5 seed rule, so equality is exact);
  *  - every step indexes exactly the batch that arrived, and an
  *    immediate REPLAY of the same batch appends nothing (the
  *    lost-checkpoint discipline, at every schedule point);
  *  - at a random step (or none) the schedule crashes between the two
  *    commits of a batch, and the step's maintainBatch is the replay.
  *
  * The crash-schedule properties do not shrink: a shrunk case would lie
  * outside the generator's range and cost one more schedule run per
  * shrink step.
  */
class StreamMaintPropSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"
  private val Terms = Seq("table", "vector", "customer", "stream")

  private def bm25Rows(df: org.apache.spark.sql.DataFrame) =
    df.select("rk", "doc_id", "bm25_r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  /** The crash arm of the BM25 schedule: at a random step (or none),
    * ONE table's append commits through the exposed writers before
    * maintainBatch runs — postings first or dl first — which is the
    * state a crash between the two table commits leaves. maintainBatch
    * is then the replay, and must land the index on the same probe as
    * a crash-free schedule. */
  test("BM25 maintainBatch over random schedules ≡ direct pipeline at every step") {
    import org.apache.spark.sql.functions.round
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val seedN = n / 2
    val schedGen: Gen[(List[Long], Option[(Int, Boolean)])] = for {
      k <- Gen.chooseNum(0, 3)
      cuts <- Gen.listOfN(k, Gen.chooseNum(seedN + 1, n - 1))
      // (step, postings committed first?)
      crash <- Gen.option(Gen.zip(Gen.chooseNum(0, k), Gen.oneOf(true, false)))
    } yield (cuts.distinct.sorted, crash)
    val prop = Prop.forAllNoShrink(schedGen) { case (cuts, crash) =>
      val bounds = (seedN +: cuts :+ n).distinct.sorted
      val crashAt = crash.map { case (i, pFirst) => (i % (bounds.length - 1), pFirst) }
      val pDir = Files.createTempDirectory("bm25-sched-p").toString
      val lDir = Files.createTempDirectory("bm25-sched-l").toString
      val (p0, dl0) = Bm25Store.indexRows(docs.filter(col("doc_id") < seedN))
      Bm25Store.writePostings(spark, p0, pDir, "overwrite", 2)
      Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
      def versions = (graft.kv.KvStore.readMeta(pDir).version,
        graft.kv.KvStore.readMeta(lDir).version)
      bounds.zip(bounds.tail).zipWithIndex.forall { case ((lo, hi), step) =>
        val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id", "text")
        val crashed = crashAt.collect { case (`step`, pFirst) =>
          val (pRows, dlRows) = Bm25Store.indexRows(batch)
          if (pFirst) Bm25Store.writePostings(spark, pRows, pDir, "append", 2)
          else Bm25Store.writeDl(spark, dlRows, lDir, "append")
          pFirst
        }
        val indexed = Bm25Store.maintainBatch(spark, batch, pDir, lDir)
        val v0 = versions
        val replay = Bm25Store.maintainBatch(spark, batch, pDir, lDir)
        val v1 = versions
        val prefixDir = Files.createTempDirectory("bm25-sched-corpus").toString
        docs.filter(col("doc_id") < hi)
          .write.mode("overwrite").parquet(s"$prefixDir/documents.parquet")
        val direct = bm25Rows(
          TextOps.bm25RankedWith(spark, prefixDir, Terms).filter(col("rk") <= 10)
            .select(col("rk"), col("doc_id"), round(col("score"), 6).as("bm25_r"))
            .orderBy(col("rk")))
        val got = bm25Rows(Bm25Store.probe(spark, pDir, lDir, Terms))
        // the return counts docs past the dl frontier: a dl-first crash
        // already covers the batch there
        val expected = if (crashed.contains(false)) 0L else hi - lo
        val ok = indexed == expected && replay == 0L && v1 == v0 && got == direct
        if (!ok) System.err.println(
          s"BM25 MISMATCH cuts=$cuts crash=$crashAt step=[$lo,$hi) " +
            s"indexed=$indexed replay=$replay versions=$v0->$v1")
        ok
      }
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }

  /** The token-less-delta arm (r20): random schedules where whole
    * batches — or just their TAILS — carry empty text. The contract
    * under test is the steady-state invariant the coverage stamp
    * restores: after any crash-free batch the two effective frontiers
    * are EQUAL (so the next batch takes the single-tokenize path), the
    * postings table's version churns only when the batch actually
    * contributed postings rows (an all-token-less delta appends
    * nothing), replay appends nothing, and the probe still equals the
    * direct pipeline over the same (partially emptied) prefix corpus. */
  test("BM25 token-less deltas: frontiers converge, no postings churn, probes pinned") {
    import org.apache.spark.sql.functions.{lit, not, round, when}
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val seedN = n / 2
    val schedGen: Gen[(List[Long], List[Int])] = for {
      k <- Gen.chooseNum(0, 2)
      cuts <- Gen.listOfN(k, Gen.chooseNum(seedN + 1, n - 1))
      bounds = (seedN +: cuts.distinct.sorted :+ n).distinct.sorted
      // 0 = normal, 1 = every doc token-less, 2 = token-less tail (last 2)
      modes <- Gen.listOfN(bounds.length - 1, Gen.chooseNum(0, 2))
        .suchThat(_.exists(_ > 0)) // at least one batch exercises the branch
    } yield (cuts.distinct.sorted, modes)
    val prop = Prop.forAll(schedGen) { case (cuts, modes) =>
      val bounds = (seedN +: cuts :+ n).distinct.sorted
      val steps = bounds.zip(bounds.tail).zip(modes)
      val emptyCond = steps.map {
        case ((lo, hi), 1) => col("doc_id") >= lo && col("doc_id") < hi
        case ((lo, hi), 2) => col("doc_id") >= math.max(lo, hi - 2) && col("doc_id") < hi
        case _ => lit(false)
      }.reduce(_ || _)
      val modDocs = docs.withColumn("text",
        when(emptyCond, lit("")).otherwise(col("text")))
      val pDir = Files.createTempDirectory("bm25-empty-p").toString
      val lDir = Files.createTempDirectory("bm25-empty-l").toString
      val (p0, dl0) = Bm25Store.indexRows(modDocs.filter(col("doc_id") < seedN))
      Bm25Store.writePostings(spark, p0, pDir, "overwrite", 2)
      Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
      steps.forall { case ((lo, hi), _) =>
        val batch = modDocs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id", "text")
        val expectChurn =
          batch.filter(not(emptyCond)).limit(1).count() > 0
        val pv0 = graft.kv.KvStore.readMeta(pDir).version
        val indexed = Bm25Store.maintainBatch(spark, batch, pDir, lDir)
        val pv1 = graft.kv.KvStore.readMeta(pDir).version
        val replay = Bm25Store.maintainBatch(spark, batch, pDir, lDir)
        val pv2 = graft.kv.KvStore.readMeta(pDir).version
        val (fp, fdl) = Bm25Store.frontiers(spark, pDir, lDir)
        val prefixDir = Files.createTempDirectory("bm25-empty-corpus").toString
        modDocs.filter(col("doc_id") < hi)
          .write.mode("overwrite").parquet(s"$prefixDir/documents.parquet")
        val direct = bm25Rows(
          TextOps.bm25RankedWith(spark, prefixDir, Terms).filter(col("rk") <= 10)
            .select(col("rk"), col("doc_id"), round(col("score"), 6).as("bm25_r"))
            .orderBy(col("rk")))
        val got = bm25Rows(Bm25Store.probe(spark, pDir, lDir, Terms))
        val ok = indexed == hi - lo && replay == 0L &&
          fp == fdl && fdl == hi - 1 &&
          (pv1 == pv0 + 1) == expectChurn && (!expectChurn || pv1 == pv0 + 1) &&
          (expectChurn || pv1 == pv0) && pv2 == pv1 &&
          got == direct
        if (!ok) System.err.println(
          s"BM25 EMPTY-DELTA MISMATCH cuts=$cuts modes=$modes step=[$lo,$hi) " +
            s"indexed=$indexed replay=$replay fp=$fp fdl=$fdl " +
            s"pv=$pv0->$pv1->$pv2 expectChurn=$expectChurn")
        ok
      }
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }

  /** The steady-state job budget of one micro-batch on a warm store
    * (both frontiers memoized by the previous batch, so reading them
    * costs no job). Pinned exactly, so an extra per-batch job fails
    * here. */
  test("steady-state maintainBatch job budget on a warm store: BM25 and LSH") {
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val n = docs.count()
    val (cut1, cut2) = (n / 2, (n * 3) / 4)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val pDir = Files.createTempDirectory("bm25-budget-p").toString
    val lDir = Files.createTempDirectory("bm25-budget-l").toString
    val (p0, dl0) = Bm25Store.indexRows(slice(0, cut1))
    Bm25Store.writePostings(spark, p0, pDir, "overwrite", 2)
    Bm25Store.writeDl(spark, dl0, lDir, "overwrite")
    Bm25Store.maintainBatch(spark, slice(cut1, cut2), pDir, lDir): Unit
    val bm25Jobs = jobsOf {
      assert(Bm25Store.maintainBatch(spark, slice(cut2, n), pDir, lDir) == n - cut2)
    }
    val bDir = Files.createTempDirectory("lsh-budget-b").toString
    val sDir = Files.createTempDirectory("lsh-budget-s").toString
    LshStore.writeIndex(spark, slice(0, cut1), bDir, sDir, "overwrite")
    LshStore.maintainBatch(spark, slice(cut1, cut2), bDir, sDir): Unit
    val lshJobs = jobsOf {
      assert(LshStore.maintainBatch(spark, slice(cut2, n), bDir, sDir) == n - cut2)
    }
    // the counts include AQE's shuffle-map-stage jobs
    assert(bm25Jobs == 7, s"BM25 steady-state batch ran $bm25Jobs jobs, budget 7")
    assert(lshJobs == 9, s"LSH steady-state batch ran $lshJobs jobs, budget 9")
  }

  test("IVF maintainBatch over random schedules ≡ one-batch twin at every step") {
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val seedN = n / 2
    def stage(tag: String): String = {
      val corpusDir = Files.createTempDirectory(s"ivf-sched-$tag").toString
      vecs.filter(col("vec_id") < seedN).coalesce(1)
        .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
      IvfStore.build(spark, corpusDir)
      corpusDir
    }
    def probeRows(corpusDir: String) = {
      val qv = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfProbe(spark, IvfStore.load(spark, corpusDir), qv, nProbe = 4)
        .collect().map(_.toString).toSeq
    }
    val schedGen: Gen[(List[Long], Option[Int])] = for {
      k <- Gen.chooseNum(0, 2)
      cuts <- Gen.listOfN(k, Gen.chooseNum(seedN + 1, n - 1))
      crash <- Gen.option(Gen.chooseNum(0, k))
    } yield (cuts.distinct.sorted, crash)
    val prop = Prop.forAllNoShrink(schedGen) { case (cuts, crash) =>
      val bounds = (seedN +: cuts :+ n).distinct.sorted
      val crashAt = crash.map(_ % (bounds.length - 1))
      val streamed = stage("s")
      def assignedVersion =
        graft.kv.KvStore.readMeta(s"${IvfStore.indexRoot(streamed)}/assigned").version
      bounds.zip(bounds.tail).zipWithIndex.forall { case ((lo, hi), step) =>
        val batch = vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        // the crash arm: the step's append commits and its meta advance
        // does not; the step's maintainBatch is then the replay, which
        // adopts the orphan and so indexes nothing new
        val crashed = crashAt.contains(step)
        if (crashed)
          IvfStore.maintainBatch(spark, streamed, batch, crashAfterAppend = true): Unit
        val indexed = IvfStore.maintainBatch(spark, streamed, batch)
        val v0 = assignedVersion
        val replay = IvfStore.maintainBatch(spark, streamed, batch)
        val v1 = assignedVersion
        // twin: an identically-seeded index (deterministic md5 centroid
        // sample over the same seed prefix) catching up in ONE batch
        val twin = stage("t")
        IvfStore.maintainBatch(spark, twin,
          vecs.filter(col("vec_id") >= seedN && col("vec_id") < hi))
        val ok = indexed == (if (crashed) 0L else hi - lo) && replay == 0L &&
          v1 == v0 && probeRows(streamed) == probeRows(twin)
        if (!ok) System.err.println(
          s"IVF MISMATCH cuts=$cuts crash=$crashAt step=[$lo,$hi) indexed=$indexed " +
            s"replay=$replay assignedVersion=$v0->$v1")
        ok
      }
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }
}
