package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The engine's knob surface, pinned: every `graft.*` conf key the
  * main sources name as a string literal, and every read/write option
  * the connector (`graft.sources`, `graft.kv`) reads by name, each
  * against a reviewed list. A new knob (or a removed one) fails here,
  * so it lands as a visible test edit together with its row in
  * ARCHITECTURE.md. */
class ConfKeysSpec extends AnyFunSuite {

  private val Reviewed = Set(
    "graft.allowExactAnchors",
    "graft.exactAnchorMaxRows",
    "graft.centroidBroadcastMaxRows",
    "graft.ivfProbeBroadcastMaxRows",
    "graft.ivfShardTargetBytes",
    "graft.ivfMaxAppendFrac",
    "graft.ivfMaxDmlFrac",
    "graft.ivfCompactShards",
    "graft.ivfVacuumGraceMs",
    "graft.bm25ProbeExhaustiveMaxTokens",
    "graft.bm25DenseVocabMax")

  private val ReviewedOptions = Set(
    "catalog", "path", "asOfVersion", "sinceVersion", "columnar",
    "bucketPointPrune", "maxVersionsPerTrigger", "maxBytesPerTrigger",
    "eventTimeColumn", "eventTimeUnit", "warehouse", "chunkBytes",
    "distributeByRange", "writePartitions", "bloomColumns", "bloomBits",
    "expectedVersion", "replaceKeyRanges", "epoch")

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  private def literals(dirs: Seq[String], pattern: scala.util.matching.Regex): Set[String] = {
    val files = dirs.flatMap(d => scalaFiles(new File(d)))
    assert(files.nonEmpty, s"no sources under ${dirs.mkString(", ")}")
    files.flatMap { f =>
      pattern.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1))
    }.toSet
  }

  test("src/main reads exactly the reviewed graft.* conf keys") {
    // a whole literal "graft.<name>": class names carry a second dot
    // ("graft.sources.KvSqlCatalog") or an upper-case segment, and
    // message text runs on past the key ("graft.ivfMaxDmlFrac=...")
    val found = literals(Seq("src/main/scala"), "\"(graft\\.[a-z]\\w*)\"".r)
    assert(found == Reviewed,
      s"unreviewed keys: ${found -- Reviewed}; reviewed keys no longer read: ${Reviewed -- found}")
  }

  test("the connector reads exactly the reviewed read/write options") {
    // options are read by literal name through the option maps'
    // get/getLong/getBoolean/... accessors
    val found = literals(Seq("src/main/scala/graft/sources", "src/main/scala/graft/kv"),
      "\\.(?:get|getLong|getBoolean|getInt|getDouble|getOrDefault|containsKey)\\(\"(\\w+)\"".r)
    assert(found == ReviewedOptions,
      s"unreviewed options: ${found -- ReviewedOptions}; " +
        s"reviewed options no longer read: ${ReviewedOptions -- found}")
  }
}
