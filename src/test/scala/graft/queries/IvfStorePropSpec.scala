package graft.queries

import java.io.File
import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => PropTest}

/** Model-based fuzz of the persisted-IVF maintenance STATE MACHINE:
  * random interleavings of corpus mutations (pure file appends, file
  * rewrites-in-place, file removals) with `ensure`/`load` calls,
  * checked against a trivial reference model. The directed
  * IvfStoreSpec tests pin each transition once; this closes the
  * sequence space — in particular append-after-append (cumulative
  * incremental updates), rewrite-after-append (a dirty append must not
  * mask a later rewrite), and load-between-mutations (read-only calls
  * must never advance the state).
  *
  * Model state per corpus: the vec_id set the index covers, the vec_id
  * set the CENTROIDS were fit on (frozen across appends, re-based only
  * by a rebuild), and the centroid table's manifest version (must move
  * ONLY on rebuild). `graft.ivfMaxAppendFrac` is pinned to 1.0 so the
  * byte-drift threshold — directed-tested separately — never fires
  * mid-sequence and the model stays exact. */
class IvfStorePropSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private sealed trait Op
  private case class AppendNew(rows: Int) extends Op
  private case object RewriteFile extends Op // bump an existing data file's mtime
  private case object RemoveFile extends Op
  private case object Ensure extends Op
  private case object LoadOnly extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.chooseNum(3, 12).map(AppendNew(_)),
    1 -> Gen.const(RewriteFile),
    1 -> Gen.const(RemoveFile),
    5 -> Gen.const(Ensure),
    2 -> Gen.const(LoadOnly))

  private val seqGen: Gen[List[Op]] =
    Gen.chooseNum(3, 7).flatMap(n => Gen.listOfN(n, opGen))

  private def dataFiles(corpus: String): Seq[File] =
    Option(new File(s"$corpus/embeddings.parquet").listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName)

  /** Data files the INDEX has synced (from the meta's persisted
    * listing) — mutating one of these is a REWRITE by definition;
    * mutating a file appended after the last sync is not (deleting it
    * can even return the corpus to the exact synced state), so the
    * rewrite/remove ops target synced files only to keep the model
    * exact. Empty when no index exists. */
  private def syncedFiles(corpus: String): Seq[File] = {
    val mf = IvfStore.metaFile(IvfStore.indexRoot(corpus))
    if (!mf.exists()) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val rels = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf)
        .path("files").elements().asScala.map(_.asText())
        .map(e => e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1)))
        .toSet
      dataFiles(corpus).filter(f => rels.contains(f.getName))
    }
  }

  test("maintenance state machine: random mutate/ensure/load sequences match the model") {
    spark.conf.set("graft.ivfMaxAppendFrac", "1.0")
    try {
      val prop = Prop.forAll(seqGen) { ops =>
        val corpus = Files.createTempDirectory("ivf-sm").toString
        var nextId = 1000000L
        def appendRows(n: Int): Set[Long] = {
          val ids = (0 until n).map(_ => { val i = nextId; nextId += 1; i })
          val base = Tables.load(spark, d, "embeddings").orderBy(col("vec_id")).limit(n)
          base.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))))
            .withColumn("vec_id", element_at(
              typedLit(ids.toSeq), col("rn")))
            .drop("rn")
            .coalesce(1).write.mode("append").parquet(s"$corpus/embeddings.parquet")
          ids.toSet
        }
        // seed corpus: 40 fresh-id rows
        var liveIds: Set[Long] = appendRows(40)
        // model: what the INDEX covers (None = no index yet)
        var idxIds: Option[Set[Long]] = None
        var idxBasis: Set[Long] = Set.empty   // centroid-fit ids
        var centVersion: Long = -1
        var dirty: String = "fresh" // corpus vs index: fresh | append | rewrite
        ops.foreach {
          case AppendNew(n) =>
            liveIds ++= appendRows(n)
            if (idxIds.isDefined && dirty != "rewrite") dirty = "append"
          case RewriteFile =>
            val fs = syncedFiles(corpus)
            if (fs.nonEmpty) {
              val f = fs(liveIds.size % fs.size)
              assert(f.setLastModified(f.lastModified() + 5000))
              dirty = "rewrite"
            }
          case RemoveFile =>
            val fs = syncedFiles(corpus)
            if (fs.nonEmpty && dataFiles(corpus).size > 1) {
              assert(fs.head.delete())
              // removing rows: re-derive the live set from disk
              liveIds = Tables.load(spark, corpus, "embeddings")
                .select("vec_id").collect().map(_.getLong(0)).toSet
              dirty = "rewrite"
            }
          case LoadOnly =>
            if (idxIds.isEmpty) {
              val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
              assert(e.getMessage.contains("no persisted IVF index"), e.getMessage)
            } else dirty match {
              case "fresh" =>
                val idx = IvfStore.load(spark, corpus)
                assert(idx.nVectors == idxIds.get.size)
              case "append" =>
                val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
                assert(e.getMessage.contains("GREW BY PURE APPEND"), e.getMessage)
              case "rewrite" =>
                val e = intercept[IllegalStateException](IvfStore.load(spark, corpus))
                assert(e.getMessage.contains("REWRITTEN"), e.getMessage)
            }
          case Ensure =>
            (idxIds, dirty) match {
              case (None, _) | (_, "rewrite") =>
                // build (or refuse-then-rebuild for rewrite)
                val idx =
                  if (dirty == "rewrite") {
                    val e = intercept[IllegalStateException](IvfStore.ensure(spark, corpus))
                    assert(e.getMessage.contains("REWRITTEN"), e.getMessage)
                    IvfStore.build(spark, corpus)
                  } else IvfStore.ensure(spark, corpus)
                idxIds = Some(liveIds); idxBasis = liveIds; dirty = "fresh"
                val newCentV = graft.kv.KvStore.readMeta(
                  s"${IvfStore.indexRoot(corpus)}/centroids").version
                assert(newCentV != centVersion, "rebuild must commit new centroids")
                centVersion = newCentV
                assert(idx.nVectors == liveIds.size)
              case (Some(_), "append") =>
                val idx = IvfStore.ensure(spark, corpus) // incremental
                assert(graft.kv.KvStore.readMeta(
                  s"${IvfStore.indexRoot(corpus)}/centroids").version == centVersion,
                  "incremental update must not touch the centroid table")
                idxIds = Some(liveIds); dirty = "fresh"
                assert(idx.nVectors == liveIds.size)
                val got = idx.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
                assert(got == liveIds,
                  s"assigned ids diverge from corpus: missing ${liveIds -- got}, stray ${got -- liveIds}")
              case (Some(ids), "fresh") =>
                val idx = IvfStore.ensure(spark, corpus)
                assert(idx.nVectors == ids.size)
            }
        }
        true
      }
      val res = PropTest.check(
        PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, res.status.toString)
    } finally spark.conf.unset("graft.ivfMaxAppendFrac")
  }
}
