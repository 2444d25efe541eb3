package graft.sources

import graft.kv.{KvCatalog, KvEdit, KvStore, KvTableMeta}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations — SQL `UPDATE`,
  * `MERGE INTO`, and the unpushable-`DELETE` fallback, all absent in the
  * read-only reference.
  *
  * Spark owns the rewrite ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]):
  * it rewrites the DML into a distributed job that reads the affected
  * "groups" (here: shards ≙ regions) through [[KvGroupScan]], applies
  * the assignments/condition itself (any expression, any predicate —
  * nothing is re-implemented driver-side), and writes complete
  * replacement shards through the normal chunked writer. The commit
  * then atomically swaps exactly the scanned shards for the written
  * ones. Contrast with `SupportsDelete.deleteWhere` (the metadata fast
  * path Spark still prefers for fully-pushable DELETEs): that rewrite
  * streams on the driver; this one is a full Spark job — one task per
  * affected shard, no shuffle (the write declares no distribution
  * requirement and each writer sorts its own chunks), which is the
  * shape a 100 TB UPDATE needs.
  *
  * Scale/correctness notes:
  *  - The scan prunes shards by the read path's rule ([[KvScan.select]]:
  *    rowkey ranges, point-lookup buckets, zone maps) plus bloom
  *    sidecars, but returns surviving shards IN FULL — a row-level clip
  *    would drop the non-matching rows of an affected shard from the
  *    table when the replacement commits. Filters are therefore
  *    recorded for pruning and reported back to Spark as residual,
  *    never as pushed.
  *  - The manifest is PINNED at scan creation: plan and commit reason
  *    about the same snapshot (the same race the DELETE rewrite closes).
  *  - Commit is optimistic, like compaction and DELETE: if a concurrent
  *    compaction superseded a scanned shard, the swap aborts with a
  *    clear conflict error (re-running the statement succeeds); a
  *    concurrent APPEND commutes — its shards are untouched by the
  *    swap. Replaced inputs are retained on the vacuum grace clock, so
  *    pre-update snapshot reads keep replaying until vacuum.
  */
class KvRowLevelOperation(catalog: KvCatalog, dir: String,
                          cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Shard files the rewrite's scan planned (= the groups the commit
    * replaces). Set on the driver at planInputPartitions time; the scan
    * and write of one operation share this instance. */
  @volatile private[sources] var scannedFiles: Seq[String] = Nil
  @volatile private[sources] var scanPlanned = false

  override def command(): RowLevelOperation.Command = cmd

  /** The `_shard` metadata column is REQUIRED, not cosmetic: Spark's
    * group-based writing task applies its data/metadata row projections
    * (stripping the internal `__row_operation` column and, for MERGE,
    * skipping delete-marked rows) only when the operation declares
    * metadata attributes — with none it hands writers the raw rewrite
    * rows, operation column included. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      KvMetadataColumns.ShardCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvGroupScanBuilder(catalog, dir, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new KvReplaceGroupsWrite(catalog, dir, info.schema(),
            info.options().getLong("chunkBytes", KvDataWriter.DefaultChunkBytes),
            KvRowLevelOperation.this)
      }
    }

  override def description(): String = s"graft-kv $cmd group rewrite $dir"
}

/** Table metadata columns ([[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]]):
  * `_shard` = the shard file a record was read from — the analogue of a
  * file-based source's `_file`, queryable directly and load-bearing for
  * row-level operations (see [[KvRowLevelOperation.requiredMetadataAttributes]]). */
object KvMetadataColumns {
  val ShardCol = "_shard"
  val columns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ShardCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "shard file the record was read from"
    })

  /** Prune `required` against the declared schema, passing the `_shard`
    * pseudo-field through (shared by the regular and group scans). */
  def prune(declared: StructType, required: StructType): StructType =
    prune(declared, required, None)

  /** As above, additionally passing the derived `_event_time` column
    * through when an event-time contract ([[KvEventTime]]) is active. */
  def prune(declared: StructType, required: StructType,
            eventTime: Option[KvEventTime]): StructType = {
    val byName = declared.fields.map(f => f.name -> f).toMap
    StructType(required.fieldNames.flatMap {
      case ShardCol => Some(org.apache.spark.sql.types.StructField(
        ShardCol, org.apache.spark.sql.types.StringType, nullable = false))
      case KvEventTime.EventTimeCol if eventTime.isDefined =>
        Some(org.apache.spark.sql.types.StructField(KvEventTime.EventTimeCol,
          org.apache.spark.sql.types.TimestampType, eventTime.get.nullable))
      case n => byName.get(n)
    })
  }
}

/** Scan builder for the rewrite's read side: predicates prune GROUPS
  * only. Everything is reported residual — Spark re-evaluates the full
  * condition inside its rewritten projection, so pruning stays a pure
  * optimization with no row-visibility consequences. */
class KvGroupScanBuilder(catalog: KvCatalog, dir: String,
                         op: KvRowLevelOperation)
    extends ScanBuilder
    with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns {

  private val declared = catalog.schema
  private var pruned: StructType = declared
  private var pruning: Array[Filter] = Array.empty

  override def pushPredicates(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val dts = declared.fields.map(f => f.name -> f.dataType).toMap
    pruning = predicates.flatMap(V2Filters.toV1)
      .filter(FilterEval.pushable(_, dts))
    predicates // ALL residual: affected groups must surface every row
  }
  override def pushedPredicates(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(required: StructType): Unit =
    pruned = KvMetadataColumns.prune(declared, required)

  override def build(): Scan =
    new KvGroupScan(catalog, dir, pruned, pruning, op)
}

class KvGroupScan(catalog: KvCatalog, dir: String, prunedSchema: StructType,
                  pruning: Array[Filter], op: KvRowLevelOperation)
    extends Scan with Batch {

  private val declared = catalog.schema
  // pinned at creation: planning and the commit's conflict check reason
  // about one manifest snapshot even if maintenance lands mid-job
  private val meta: KvTableMeta = KvStore.readMetaOrEmpty(dir)

  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv-group-rewrite $dir GroupPruneFilters: [${pruning.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // bloom sidecars prune here too (driver-side: one KiB read per
    // candidate shard is the right trade for DML — every shard kept is
    // a full rewrite): a point UPDATE/DELETE on a bloom-tracked column
    // rewrites only the shards that might hold the key
    val surviving = KvScan.select(meta.shards, pruning, declared, catalog.rowkey,
      catalog.buckets).parts.map(_.shard)
      .filter(s => KvBloomPrune.canMatch(dir, s, pruning, declared))
    op.scannedFiles = surviving.map(_.file)
    op.scanPlanned = true
    // full shard reads — no clip ranges, no row filters (see class doc)
    surviving.map(s => KvInputPartition(s): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KvPartitionReaderFactory(dir, prunedSchema.json, declared.json,
      catalog.rowkey, Array.empty, -1)
}

/** Commit side of the rewrite: swap the scanned shards for the written
  * ones, atomically, under the table lock — the compactor's optimistic
  * discipline. */
class KvReplaceGroupsWrite(catalog: KvCatalog, dir: String,
                           schema: StructType, chunkBytes: Long,
                           op: KvRowLevelOperation) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    KvDataWriterFactory(dir, schema.json, catalog.schema.json, catalog.rowkey,
      chunkBytes, buckets = catalog.buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newShards = messages.flatMap { case KvCommit(s) => s }.toSeq
    require(op.scanPlanned, "row-level rewrite committed before its scan planned")
    val replaced = op.scannedFiles.toSet
    if (replaced.isEmpty && newShards.isEmpty) return // no affected groups
    KvStore.commit(dir) { current =>
      // lineage = min over the replaced inputs: a rewrite reshuffles
      // surviving rows across its output shards, so per-output tighter
      // bounds don't exist — the min keeps incremental reads from ever
      // re-serving surviving rows as new. (UPDATEd row versions do not
      // surface as changes; the incremental contract is append-only.)
      val inheritedFirst = current.shards.filter(s => replaced(s.file))
        .map(_.firstVersion).minOption.getOrElse(0L)
      KvEdit(newShards.map(_.copy(firstVersion = inheritedFirst)),
        remove = replaced, rewrite = true)
    } match {
      // a concurrent compaction superseded a scanned input: its merged
      // shard may mix scanned and unscanned rows — swapping would lose
      // either the rewrite or the merge. The statement retries against
      // the fresh manifest.
      case KvStore.Conflict => throw new IllegalStateException(
        s"${op.command()} lost the manifest swap to concurrent maintenance; " +
          "re-run the statement")
      case KvStore.StuckClock => throw KvStore.stuckClock("rewrite")
      case _ => ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case KvCommit(s) => s }.flatten.foreach(KvStore.deleteShard(dir, _))
}
