package graft.sources

import java.util

import graft.kv.{KvCatalog, KvEdit, KvShardMeta, KvStore}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DSv2 entry point for the graft KV store — the rebuild of the
  * reference's `DefaultSource`
  * (`/root/reference/src/main/scala/com/dm/hbase/spark3/datasource/DefaultSource.scala:18-65`):
  * schema comes from the out-of-band `catalog` JSON option, never from
  * data. Improvements over the reference, per SURVEY.md §2.1: a
  * registered short name (`graft-kv`; the reference forces the FQCN) and
  * a write path (the reference is read-only).
  *
  * Options: `catalog` = catalog JSON (both reference shapes), `path` =
  * table directory.
  */
class KvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"

  private def catalogOf(options: util.Map[String, String]): KvCatalog = {
    val json = options.get("catalog")
    require(json != null, "option 'catalog' (JSON) is required")
    KvCatalog.parse(json)
  }

  private def pathOf(options: util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null, "option 'path' (table directory) is required")
    // the session catalog rewrites the path option to a file: URI when
    // the table is created via SQL DDL; resolve it back to a local path
    // (a raw "file:/x" string would otherwise be treated as a RELATIVE
    // directory literally named "file:" under the working directory)
    if (p.startsWith("file:")) java.net.URI.create(p).getPath else p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val cat = catalogOf(options)
    KvEventTime.withEventTime(cat.schema, KvEventTime.parse(options, cat.schema))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // inferSchema sees a CaseInsensitiveStringMap; normalize here too so
    // option("Catalog", …) doesn't pass inference then fail table creation
    val opts = new CaseInsensitiveStringMap(properties)
    val cat = catalogOf(opts)
    new KvTable(cat, pathOf(opts), eventTime = KvEventTime.parse(opts, cat.schema))
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** Table handle: batch read + batch write (+ truncate for overwrite,
  * + `DELETE FROM … WHERE` when every conjunct is pushable).
  *
  * `pinnedAsOf` = a time-travel handle (SQL `VERSION AS OF` /
  * `TIMESTAMP AS OF` through [[KvSqlCatalog.loadTable]]): every scan it
  * builds defaults to that manifest version — the same snapshot
  * machinery as the `asOfVersion` read option, which still wins if
  * given explicitly. */
class KvTable(val catalog: KvCatalog, val dir: String,
              val pinnedAsOf: Option[Long] = None,
              val eventTime: Option[KvEventTime] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_shard`: which shard file served each record (`SELECT _shard, …`)
    * — and the metadata hook Spark's row-level write projections key on. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    KvMetadataColumns.columns

  /** SQL UPDATE / MERGE / unpushable DELETE: Spark rewrites the DML to a
    * distributed group-based copy-on-write job ([[KvRowLevelOperation]]).
    * Fully-pushable DELETEs keep taking the `deleteWhere` metadata fast
    * path below — Spark prefers it when `canDeleteWhere` accepts. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new KvRowLevelOperation(catalog, dir, info.command())

  override def name(): String = catalog.qualifiedName
  override def schema(): StructType =
    KvEventTime.withEventTime(catalog.schema, eventTime)

  /** Surface the engine-level table facts to `SHOW TBLPROPERTIES` /
    * `DESCRIBE TABLE EXTENDED`: the rowkey binding and (when bucketed)
    * the bucket count a user must match to get co-partitioned joins. */
  override def properties(): util.Map[String, String] = {
    val p = new util.HashMap[String, String]()
    p.put("rowkey", catalog.rowkey)
    if (catalog.buckets > 0) p.put("buckets", catalog.buckets.toString)
    pinnedAsOf.foreach(v => p.put("asOfVersion", v.toString))
    p
  }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
        TableCapability.STREAMING_WRITE).asJava

  /** DELETE pushes only when the scan could push every conjunct — the
    * same `FilterEval` set (incl. three-valued Not). Anything else makes
    * Spark raise its standard "cannot delete" analysis error rather than
    * this table guessing at semantics it can't evaluate. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val dts = catalog.schema.fields.map(f => f.name -> f.dataType).toMap
    filters.forall(FilterEval.pushable(_, dts))
  }

  // Spark's default v2 → v1 bridge (`PredicateUtils.toV1`) drops an
  // untranslatable OR operand instead of failing the translation:
  // `k < 300 OR v % 2 = 0` reaches deleteWhere as `k < 300` and deletes
  // too few rows. The scan's own translation fails the whole predicate,
  // so such a DELETE takes the row-level rewrite instead.
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean = {
    val v1 = predicates.map(V2Filters.toV1)
    v1.forall(_.isDefined) && canDeleteWhere(v1.flatten)
  }
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    deleteWhere(predicates.map(p => V2Filters.toV1(p).getOrElse(
      throw new IllegalArgumentException(s"DELETE predicate not translatable: $p"))))

  /** Row-level delete as a per-shard rewrite with an OPTIMISTIC swap —
    * the compactor's discipline, because the rewrite can take minutes
    * on region-sized shards and must not hold the table lock that
    * every writer commit (batch, streaming epoch) serializes on.
    *
    * Shards that cannot contain a match — by the read path's selection
    * ([[KvScan.select]]: rowkey range, point-lookup bucket, zone maps)
    * or a bloom sidecar — are untouched (their manifest entries, files
    * and stats stay byte-identical). Each surviving shard streams
    * through [[KvDataWriter.rewriteShard]]: records where the predicate
    * is TRUE are dropped (FALSE and UNKNOWN are kept — SQL DELETE
    * semantics), everything else is appended to a replacement shard
    * with a fresh CRC. A rewrite that removed nothing discards its
    * output and keeps the original file.
    *
    * The swap then runs UNDER the lock: if every rewritten input is
    * still live in the current manifest, inputs are replaced by outputs
    * (entries added concurrently — appends, epoch commits — are kept;
    * their rows were not visible to this delete's snapshot, standard
    * snapshot-delete semantics). If a concurrent compaction superseded
    * an input, the outputs are discarded and the whole pass retries
    * from a fresh manifest, bounded at 3 attempts. Replaced inputs are
    * RETAINED on the vacuum grace clock (mtimes restarted before the
    * swap commits), so pre-delete snapshot reads keep replaying until
    * vacuum. */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    var attempt = 0
    while (!deleteOnce(filters)) {
      attempt += 1
      if (attempt >= 3) throw new IllegalStateException(
        "DELETE lost the manifest swap to concurrent maintenance 3 times; retry")
    }
  }

  /** One optimistic pass; false = lost the swap, caller retries. */
  private def deleteOnce(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val declared = catalog.schema
    if (!new java.io.File(KvStore.metaPath(dir)).exists()) return true
    val meta = KvStore.readMeta(dir)
    // the read path's shard selection (rowkey ranges, point-lookup
    // buckets, zone maps) plus bloom sidecars — applied to THIS manifest
    // snapshot, the one the rewrite iterates. (Re-reading the manifest
    // would race a compaction: it renames every shard, the pruned set
    // and the iterated set would share no file names, and the delete
    // would silently skip the matching rows.)
    val touchable = KvScan.select(meta.shards, filters, declared, catalog.rowkey,
      catalog.buckets).parts.map(_.shard)
      .filter(s => KvBloomPrune.canMatch(dir, s, filters, declared))
    val decoder = new KvRecordDecoder(declared,
      filters.flatMap(_.references).toSet)
    val pred = FilterEval.compile(filters, decoder.idxByName, decoder.dtByName,
      decoder.scratch)
    val token = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val replacements = scala.collection.mutable.LinkedHashMap[String, Seq[KvShardMeta]]()
    try touchable.zipWithIndex.foreach { case (shard, seq) =>
      val (removed, out) = KvDataWriter.rewriteShard(dir, shard,
        s"shard-delete-$token-d$seq.kv", declared) { rec =>
        decoder.decodeInto(rec)
        !pred()
      }
      // nothing matched after all (bounds were loose): keep the original
      // file — no churn, no new vacuum debt
      if (removed == 0L) out.foreach(KvStore.deleteShard(dir, _))
      else replacements(shard.file) = out.toSeq
    } catch {
      case e: Throwable =>
        // discard the outputs of earlier shards of this failed pass
        replacements.values.flatten.foreach(KvStore.deleteShard(dir, _))
        throw e
    }
    if (replacements.isEmpty) return true
    // replacements take their input's manifest position; entries added
    // concurrently (appends, epoch commits) are kept — their rows were
    // not visible to this delete's snapshot. The commit REPLACED live
    // rows in place, so it stamps the rewrite watermark exactly like the
    // group-based DML path does, or derived-state consumers (IvfKvStore)
    // would classify the window as a pure append and keep serving
    // deleted rows.
    KvStore.commit(dir)(_ => KvEdit(inPlace = replacements.toMap, rewrite = true)) match {
      // a concurrent compaction superseded an input mid-rewrite: its
      // merged shard holds rows this pass would have deleted — the swap
      // would LOSE the delete for those rows. Retry from the fresh
      // manifest.
      case KvStore.Conflict => false
      case KvStore.StuckClock => throw KvStore.stuckClock("delete")
      case _ => true
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `columnar` (default true): vectorized batch decode for flat
    // forward scans; `columnar=false` pins the row-at-a-time reader.
    // `asOfVersion` (optional): snapshot read of a past manifest commit
    // — valid while retain-mode compaction + vacuum grace keep the
    // superseded shard files (truncate deletes them immediately).
    // `sinceVersion` (optional): incremental append-CDC read — only rows
    // whose shards entered the table after that manifest version (see
    // KvShardMeta.firstVersion); composes with asOfVersion for a
    // bounded (since, asOf] window.
    // `maxVersionsPerTrigger` (optional, streaming only): admission
    // control — cap each micro-batch at N manifest versions so a stream
    // starting far behind (or at the snapshot) catches up in bounded
    // batches instead of planning the whole backlog as one.
    val asOf = Option(options.get("asOfVersion")).map(_.toLong).orElse(pinnedAsOf)
    val since = Option(options.get("sinceVersion")).map(_.toLong)
    // `bucketPointPrune` (default true): escape hatch that disables
    // point-lookup bucket pruning (debug / A-B measurement), mirroring
    // `columnar=false`.
    // `eventTimeColumn` / `eventTimeUnit` (optional): the event-time
    // contract for streaming reads — a timestamp column validates as-is;
    // an epoch long column surfaces a derived `_event_time` TIMESTAMP
    // column the user watermarks ([[KvEventTime]]). Re-parsed here (not
    // only at getTable) because scan options can differ per read.
    // `maxBytesPerTrigger` (optional, streaming only): byte-denominated
    // admission control from manifest shard sizes; composes with
    // `maxVersionsPerTrigger` — whichever cap bites first bounds the
    // micro-batch.
    val ev = KvEventTime.parse(options, catalog.schema).orElse(eventTime)
    new KvScanBuilder(catalog, dir, options.getBoolean("columnar", true), asOf, since,
      options.getLong("maxVersionsPerTrigger", 0L),
      options.getBoolean("bucketPointPrune", true), ev,
      options.getLong("maxBytesPerTrigger", 0L))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(catalog, dir, info)
}
