package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The engine's `graft.*` conf surface, pinned: every conf key the
  * main sources name as a string literal, against a reviewed list. A
  * new knob (or a removed one) fails here, so it lands as a visible
  * test edit together with its row in ARCHITECTURE.md's conf table. */
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

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("src/main reads exactly the reviewed graft.* conf keys") {
    val root = new File("src/main/scala")
    val files = scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    // a whole literal "graft.<name>": class names carry a second dot
    // ("graft.sources.KvSqlCatalog") or an upper-case segment, and
    // message text runs on past the key ("graft.ivfMaxDmlFrac=...")
    val key = "\"(graft\\.[a-z]\\w*)\"".r
    val found = files.flatMap { f =>
      key.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1))
    }.toSet
    assert(found == Reviewed,
      s"unreviewed keys: ${found -- Reviewed}; reviewed keys no longer read: ${Reviewed -- found}")
  }
}
