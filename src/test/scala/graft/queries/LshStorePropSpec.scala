package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => PropTest}

/** Property fuzz of LSH frontier maintenance over MULTI-STEP append
  * schedules. The directed LshStoreSpec pins one build→append cycle;
  * this closes the schedule space: the corpus is split at random cut
  * points into 2–5 ingest batches, the index is built from the first
  * and maintained once per arrival, and after EVERY maintenance step
  * the pair relation computed from the persisted tables must be
  * bit-identical to a from-scratch sketch of the prefix indexed so
  * far (per-document signatures ⇒ appends compose exactly — the
  * property that makes the incremental path sound). Each step must
  * also index exactly the batch that arrived, and a repeated ensure
  * must be a no-op that leaves both manifest versions unchanged. At a
  * random step (or none) ONE table's append of the arriving batch
  * commits through the exposed writers first — bands or shingles, the
  * state a crash between the two table commits leaves — and the
  * maintenance step is the replay. Schedules are not shrunk: a shrunk
  * case would lie outside the generator's range. */
class LshStorePropSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "inter", "un").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("multi-step frontier maintenance ≡ from-scratch sketch at every step") {
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val schedGen: Gen[(List[Long], Option[(Int, Boolean)])] = for {
      k <- Gen.chooseNum(1, 4)
      cuts <- Gen.listOfN(k, Gen.chooseNum(1L, n - 1))
      // (step, bands committed first?)
      crash <- Gen.option(Gen.zip(Gen.chooseNum(0, k), Gen.oneOf(true, false)))
    } yield (cuts.distinct.sorted, crash)
    val prop = Prop.forAllNoShrink(schedGen) { case (cuts, crash) =>
      val bounds = (cuts :+ n).distinct.sorted
      val crashAt = crash.map { case (i, bFirst) => (i % (bounds.length - 1), bFirst) }
      val bDir = Files.createTempDirectory("lsh-prop-bands").toString
      val sDir = Files.createTempDirectory("lsh-prop-shingles").toString
      LshStore.writeIndex(spark, docs.filter(col("doc_id") < bounds.head),
        bDir, sDir, "overwrite")
      def versions = (graft.kv.KvStore.readMeta(bDir).version,
        graft.kv.KvStore.readMeta(sDir).version)
      bounds.zip(bounds.tail).zipWithIndex.forall { case ((lo, hi), step) =>
        // "arrival" of the next batch = maintaining against a corpus
        // truncated at hi: stage the prefix as a parquet dir the
        // ensure call reads as its live corpus
        val prefixDir = Files.createTempDirectory("lsh-prop-corpus").toString
        docs.filter(col("doc_id") < hi)
          .write.mode("overwrite").parquet(s"$prefixDir/documents.parquet")
        crashAt.collect { case (`step`, bFirst) =>
          val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          if (bFirst) LshStore.writeBands(spark, batch, bDir, "append")
          else LshStore.writeShingles(spark, batch, sDir, "append")
        }
        val indexed = LshStore.ensureIndexed(spark, prefixDir, bDir, sDir)
        val v0 = versions
        val again = LshStore.ensureIndexed(spark, prefixDir, bDir, sDir)
        val v1 = versions
        val fromScratch = {
          val b2 = Files.createTempDirectory("lsh-prop-b2").toString
          val s2 = Files.createTempDirectory("lsh-prop-s2").toString
          LshStore.writeIndex(spark, docs.filter(col("doc_id") < hi),
            b2, s2, "overwrite")
          pairsOf(LshStore.pairs(spark, b2, s2))
        }
        // either crash order leaves one table at the old frontier, so
        // the return (docs past the lower frontier) is the whole batch
        val ok = indexed == hi - lo && again == 0L && v1 == v0 &&
          pairsOf(LshStore.pairs(spark, bDir, sDir)) == fromScratch
        if (!ok) System.err.println(
          s"MISMATCH cuts=$cuts crash=$crashAt step=[$lo,$hi) " +
            s"indexed=$indexed again=$again versions=$v0->$v1")
        ok
      }
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }
}
