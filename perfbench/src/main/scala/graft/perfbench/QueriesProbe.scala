package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Traced-run probes of the `queries` layer: a small llm_pipeline corpus is
  * set up (its IVF, BM25 and LSH builds timed as `queries.index_build_s`)
  * and a fixed sequence of batched ANN, BM25 and LSH probes and drains is
  * run through the checked op path under its own tracer, so these ops never
  * mix into the workload's per-layer figures. Every workload's traced run
  * measures the layer this way; `--workload llm_pipeline` gives its
  * end-to-end numbers. */
object QueriesProbe {
  val Rounds = 2

  final case class Result(samples: Seq[Main.Sample], tracer: Tracer, indexBuildS: Double)

  def run(spark: SparkSession, runDir: String, seed: Long): Result = {
    val inst = LlmPipeline.setup(spark, s"$runDir/queries-probe", seed)
      .asInstanceOf[LlmPipeline.LlmInstance]
    val kinds = Seq[scala.util.Random => Op](inst.ann, inst.bm25, inst.lsh, inst.drain)
    val cycle = new Instance {
      def next(rnd: scala.util.Random, i: Long): Op = kinds((i % kinds.length).toInt)(rnd)
      def kvTable: String = inst.kvTable
      def kvCatalogJson: String = inst.kvCatalogJson
    }
    val tracer = new Tracer(spark)
    tracer.install()
    val samples = Main.loop(spark, cycle, new scala.util.Random(Gen.mix(seed, 79, 0)), 600.0,
      2000000L, Some(tracer), maxOps = Rounds * kinds.length)
    tracer.uninstall()
    Result(samples, tracer, inst.indexBuildS)
  }
}
