package graft.perfbench

import graft.kv.{KvStore, KvTableMeta}

/** Checks of the benchmark itself, run by perfbench/tests/test_perfbench.py:
  *
  *  1. the same seed generates byte-identical inputs, both as generated
  *     rows and as the records of the KV tables built from them, and a
  *     different seed generates different ones;
  *  2. every op passes its answer check against a correct model, and a
  *     model built from the wrong seed (wrong expected answers) makes ops
  *     fail, so the failure count is not vacuous. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(s"self-test failed: $what")

  /** Digest of every record of a KV table, in key order. */
  private def tableDigest(dir: String): String = {
    val meta: KvTableMeta = KvStore.readMeta(dir)
    val recs = meta.shards.flatMap { s =>
      val r = new KvStore.ShardReader(dir, s)
      try r.toVector finally r.close()
    }.sortWith((a, b) => graft.kv.BytesCodec.compareKeys(a.key, b.key) < 0)
    Gen.digest(recs.iterator.map(r => KvStore.toHex(r.key) +:
      r.cells.map(c => s"${c.cf}:${c.qualifier}=${KvStore.toHex(c.value)}")))
  }

  def main(args: Array[String]): Unit = {
    val runDir = args(0)
    def serveRows(seed: Long) =
      Gen.digest((0 until KvServe.Rows).iterator.map(i => KvServe.li(seed, i).productIterator.toSeq))
    def ingestRows(seed: Long) = Gen.digest((0L until KvIngest.BaseRows).iterator.map { i =>
      val k = i * KvIngest.Stride
      KvIngest.row(seed, k, 0, KvIngest.price(seed, k)).toSeq
    })
    def llmRows(seed: Long) = Gen.digest(
      LlmPipeline.baseDocs(seed).iterator.map { case (i, src) => Seq(i, LlmPipeline.text(seed, i, src)) } ++
        (0L until LlmPipeline.Vecs).iterator.map(i => LlmPipeline.vec(seed, i).toSeq))
    Seq(("kv_serve", serveRows _), ("kv_ingest", ingestRows _), ("llm_pipeline", llmRows _))
      .foreach { case (w, f) =>
        check(f(11) == f(11), s"$w rows differ between two generations of one seed")
        check(f(11) != f(12), s"$w rows equal for two seeds")
      }

    val spark = Main.session(runDir)
    try {
      val a = KvServe.setup(spark, s"$runDir/a", 5).asInstanceOf[KvServe.ServeInstance]
      val b = KvServe.setup(spark, s"$runDir/b", 5).asInstanceOf[KvServe.ServeInstance]
      check(tableDigest(a.table) == tableDigest(b.table), "kv_serve tables differ for one seed")
      val i1 = KvIngest.setup(spark, s"$runDir/i1", 5)
      val i2 = KvIngest.setup(spark, s"$runDir/i2", 5)
      check(tableDigest(i1.kvTable) == tableDigest(i2.kvTable), "kv_ingest tables differ for one seed")

      val good = Main.loop(spark, a, new scala.util.Random(1), 4.0, 0L, None)
      check(good.nonEmpty && good.forall(_.error.isEmpty),
        s"correct model: ${good.count(_.error.nonEmpty)} of ${good.length} ops failed")
      val ing = Main.loop(spark, i1, new scala.util.Random(1), 4.0, 1000L, None)
      check(ing.nonEmpty && ing.forall(_.error.isEmpty),
        s"kv_ingest: ${ing.count(_.error.nonEmpty)} of ${ing.length} ops failed")
      val wrong = new KvServe.ServeInstance(spark, 5, a.table, a.partPath, modelSeed = 6)
      val bad = Main.loop(spark, wrong, new scala.util.Random(1), 4.0, 2000L, None)
      val failedFrac = bad.count(_.error.nonEmpty).toDouble / bad.length
      check(failedFrac > 0, "a wrong model left failed_frac at 0")
      println(f"SELFTEST OK good_ops=${good.length} ingest_ops=${ing.length} " +
        f"wrong_model_failed_frac=$failedFrac%.3f")
    } finally spark.stop()
  }
}
