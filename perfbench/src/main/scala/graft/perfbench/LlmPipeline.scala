package graft.perfbench

import graft.queries.{Bm25Store, IvfStore, LshStore, Similarity}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** llm_pipeline: batched retrieval and near-dup probes against the
  * persisted index stores, over generated documents and embeddings written
  * as one parquet file each.
  *
  * Op mix: 35% IVF ANN probes (8–32 queries, nProbe 2/4/8, top-10), 30%
  * BM25 top-10 probes (4–16 queries), 25% LSH near-dup probes of a 8–32
  * document batch, 10% drains that append 50–200 documents and run one
  * BM25 + LSH maintenance step.
  *
  * Planted answers: every tenth document carries a token no other document
  * has, so a BM25 query holding it must return that document in its top
  * 10; a share of documents have a planted near-duplicate that differs in
  * the last token only, so an LSH probe of either must return the pair. */
object LlmPipeline extends Workload {
  val name = "llm_pipeline"
  val tailPct = 80.0
  val warmupOps = 4
  val Docs = 1500
  val Dups = 75
  val Vecs = 1000
  val Dim = 64
  val Clusters = 16
  val Vocab = 2000
  val DrainBase = 1000000L

  private val zipf = new Gen.Zipf(Vocab, 1.0)

  /** Cell layout of the BM25 postings table, for the kv-layer probes. */
  val PostingsCatalog: String =
    """{"table":{"name":"bm25_postings"},"rowkey":"pk","columns":{
      |"pk":{"cf":"rowkey","col":"pk","type":"string"},
      |"token":{"cf":"p","col":"t","type":"string"},
      |"doc_id":{"cf":"p","col":"d","type":"long"},
      |"tf":{"cf":"p","col":"f","type":"long"}}}""".stripMargin

  /** Tokens of a generated document; near-dups copy their source and swap
    * the final token. */
  def tokens(seed: Long, id: Long): Array[String] = {
    val n = 60 + Gen.pick(seed, 21, id, 21)
    val toks = Array.tabulate(n)(j => s"w${zipf.sample(Gen.unit(seed, 22, id * 101 + j))}")
    if (id % 10 == 0) toks(Gen.pick(seed, 23, id, n)) = s"u$id"
    toks
  }
  def dupSource(seed: Long, id: Long): Long = Gen.pick(seed, 24, id, Docs).toLong
  def text(seed: Long, id: Long, dupOf: Option[Long]): String = dupOf match {
    case None => tokens(seed, id).mkString(" ")
    case Some(src) =>
      val t = tokens(seed, src)
      t(t.length - 1) = s"d$id"
      t.mkString(" ")
  }
  def docRow(id: Long, t: String): Row = Row(id, t, "en", s"src${id % 7}", t.length.toLong)

  def vec(seed: Long, i: Long): Array[Float] = {
    val c = Gen.pick(seed, 31, i, Clusters)
    Array.tabulate(Dim) { d =>
      val center = Gen.unit(seed, 32, c * 1000L + d) * 2 - 1
      val noise = (Gen.unit(seed, 33, i * 1000L + d) * 2 - 1) * 0.35
      (center + noise).toFloat
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Base corpus: documents 0 until Docs plus Dups planted near-dups. */
  def baseDocs(seed: Long): Seq[(Long, Option[Long])] =
    (0L until Docs).map(i => (i, None)) ++
      (Docs.toLong until Docs.toLong + Dups).map(i => (i, Some(dupSource(seed, i))))

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val corpus = s"$dir/corpus"
    val n = Runtime.getRuntime.availableProcessors()
    val docs = baseDocs(seed)
    spark.createDataFrame(spark.sparkContext.parallelize(docs, n)
      .map { case (i, src) => docRow(i, text(seed, i, src)) }, docSchema)
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    spark.createDataFrame(spark.sparkContext.range(0, Vecs, numSlices = n)
      .map(i => Row(i, vec(seed, i).toSeq, (i % Clusters).toInt)), vecSchema)
      .coalesce(1).write.parquet(s"$corpus/embeddings.parquet")
    val t0 = System.nanoTime()
    val idx = IvfStore.ensure(spark, corpus)
    val docsDf = spark.read.parquet(s"$corpus/documents.parquet")
    val (pDir, lDir) = Bm25Store.buildIfAbsent(spark, corpus, "full", docsDf)
    val (bDir, sDir) = LshStore.buildIfAbsent(spark, corpus, "full", docsDf)
    val buildS = (System.nanoTime() - t0) / 1e9
    new LlmInstance(spark, seed, idx, pDir, lDir, bDir, sDir, buildS, docs)
  }

  final class LlmInstance(spark: SparkSession, seed: Long, idx: Similarity.IvfIndex,
                          pDir: String, lDir: String, bDir: String, sDir: String,
                          buildS: Double, base: Seq[(Long, Option[Long])]) extends Instance {
    def kvTable: String = pDir
    def kvCatalogJson: String = PostingsCatalog
    /** Seconds of IVF + BM25 + LSH index builds in this set-up. */
    def indexBuildS: Double = buildS

    // client model: every indexed document, its planted token and near-dup pair
    private val docIds = mutable.ArrayBuffer.empty[Long]
    private val pairs = mutable.Map.empty[Long, (Long, Long)] // either id -> (a, b)
    private def admit(d: Seq[(Long, Option[Long])]): Unit = d.foreach { case (id, src) =>
      docIds += id
      src.foreach { s => pairs(id) = (s, id); pairs(s) = (s, id) }
    }
    admit(base)
    private var nextId = DrainBase
    private val vecs: Array[Array[Float]] = Array.tabulate(Vecs)(i => vec(seed, i))
    private val norms: Array[Double] = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    private def cos(a: Int, b: Int): Double = {
      var s = 0.0; var d = 0
      while (d < Dim) { s += vecs(a)(d).toDouble * vecs(b)(d); d += 1 }
      s / (norms(a) * norms(b))
    }
    private val recalls = mutable.ArrayBuffer.empty[Double]

    def next(rnd: scala.util.Random, id: Long): Op = {
      val u = rnd.nextDouble()
      if (u < 0.35) ann(rnd)
      else if (u < 0.65) bm25(rnd)
      else if (u < 0.90) lsh(rnd)
      else drain(rnd)
    }

    def ann(rnd: scala.util.Random): Op = {
      val nq = 4 + rnd.nextInt(13)
      val nProbe = Seq(2, 4, 8)(rnd.nextInt(3))
      val qs = Seq.fill(nq)(rnd.nextInt(Vecs)).distinct
      val exact = qs.map(q => q -> (0 until Vecs).filter(_ != q).sortBy(n => (-cos(q, n), n))
        .take(10).map(_.toLong).toSet).toMap
      val qRows = qs.map(q => Row(q.toLong, vecs(q).toSeq))
      new Op("ann_probe", Read, ctx => {
        val qdf = spark.createDataFrame(spark.sparkContext.parallelize(qRows, 1),
          StructType(Seq(StructField("q_id", LongType), StructField("q_emb", ArrayType(FloatType)))))
        ctx.collect(ctx.build(Similarity.ivfProbeAll(spark, idx, qdf, nProbe, topK = 10,
          nQueriesHint = Some(qs.length.toLong))))
      }, res => {
        val got = res.asInstanceOf[Array[Row]].map(r =>
          (r.getAs[Long]("q_id"), r.getAs[Int]("rk"), r.getAs[Long]("n_id"), r.getAs[Double]("cos_r")))
        val bad = got.find { case (q, _, n, c) =>
          n == q || n < 0 || n >= Vecs || math.abs(c - cos(q.toInt, n.toInt)) > 1e-4 }
        val byQ = got.groupBy(_._1)
        if (bad.nonEmpty) Some(s"ann_probe: invalid neighbour ${bad.get}")
        else if (!byQ.keySet.subsetOf(qs.map(_.toLong).toSet)) Some("ann_probe: unknown query id")
        else byQ.collectFirst { case (q, rs) if rs.map(_._2).sorted.toSeq != (1 to rs.length) ||
            rs.sortBy(_._2).map(_._4).sliding(2).exists(p => p.length == 2 && p(1) > p(0) + 1e-9) =>
          s"ann_probe: query $q ranks out of order" }
      }, res => {
        val byQ = res.asInstanceOf[Array[Row]].groupBy(_.getAs[Long]("q_id"))
        qs.foreach { q =>
          val got = byQ.getOrElse(q.toLong, Array.empty[Row]).map(_.getAs[Long]("n_id")).toSet
          recalls += got.intersect(exact(q)).size / 10.0
        }
      })
    }

    def bm25(rnd: scala.util.Random): Op = {
      val nq = 2 + rnd.nextInt(7)
      val targets = Seq.fill(nq)(docIds(rnd.nextInt(docIds.length)))
        .filter(t => t % 10 == 0 && !pairs.get(t).exists(_._2 == t)).distinct
      val qs = targets.zipWithIndex.map { case (t, i) =>
        val common = Seq.fill(2)(s"w${zipf.sample(rnd.nextDouble())}")
        Row(i.toLong, (s"u$t" +: common).toSeq)
      }
      new Op("bm25_probe", Read, ctx => {
        val qdf = spark.createDataFrame(spark.sparkContext.parallelize(qs, 1),
          StructType(Seq(StructField("q_id", LongType), StructField("terms", ArrayType(StringType)))))
        ctx.collect(ctx.build(Bm25Store.probeAll(spark, pDir, lDir, qdf, topK = 10)))
      }, res => {
        val got = res.asInstanceOf[Array[Row]].groupBy(_.getAs[Long]("q_id"))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }
        targets.zipWithIndex.collectFirst {
          case (t, i) if !got.getOrElse(i.toLong, Set.empty[Long]).contains(t) =>
            s"bm25_probe: planted doc $t missing from its query's top 10"
        }
      })
    }

    def lsh(rnd: scala.util.Random): Op = {
      val nb = 4 + rnd.nextInt(13)
      val withDup = pairs.keys.toSeq.sorted
      val batch = (Seq.fill(nb / 2)(withDup(rnd.nextInt(withDup.length))) ++
        Seq.fill(nb - nb / 2)(docIds(rnd.nextInt(docIds.length)))).distinct
      val expect = batch.flatMap(pairs.get).toSet
      val rows = batch.map(id => docRow(id, docText(id)))
      new Op("lsh_probe", Read, ctx => {
        val bdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), docSchema)
        ctx.collect(ctx.build(LshStore.probeBatch(spark, bDir, sDir, bdf)))
      }, res => {
        val got = res.asInstanceOf[Array[Row]]
          .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
        val missing = expect -- got
        if (missing.isEmpty) None else Some(s"lsh_probe: planted pairs missing: ${missing.take(3)}")
      })
    }

    private def docText(id: Long): String = {
      val src = pairs.get(id).collect { case (a, b) if b == id => a }
      text(seed, id, src)
    }

    def drain(rnd: scala.util.Random): Op = {
      val n = 20 + rnd.nextInt(61)
      val ids = (nextId until nextId + n).map { i =>
        val dup = if (rnd.nextInt(10) == 0) Some(docIds(rnd.nextInt(docIds.length))) else None
        (i, dup.filterNot(pairs.contains))
      }
      val rows = ids.map { case (i, src) => docRow(i, text(seed, i, src)) }
      new Op("drain", Write, ctx => {
        val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
        val bm = ctx.span("queries", "bm25_maintain")(Bm25Store.maintainBatch(spark, batch, pDir, lDir))
        val ls = ctx.span("queries", "lsh_maintain")(LshStore.maintainBatch(spark, batch, bDir, sDir))
        (bm, ls)
      }, res => {
        val (bm, ls) = res.asInstanceOf[(Long, Long)]
        if (bm == n && ls == n) None else Some(s"drain: indexed ($bm, $ls) of $n documents")
      }, _ => {
        admit(ids)
        nextId += n
      })
    }

    override def finish(samples: Seq[Main.Sample]): Seq[Metric] =
      if (recalls.isEmpty) Nil
      else Seq(Metric("recall_at_10", recalls.sum / recalls.length, "fraction"))
  }
}
