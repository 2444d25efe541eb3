package graft.sources

import graft.kv._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Read path: ScanBuilder (pushdown negotiation) → Scan/Batch (partition
  * planning with rowkey-range shard pruning) → PartitionReader.
  *
  * Mirrors the reference pipeline
  * (`HbaseScanBuilder.scala` → `HbaseScan.scala` → `HbasePartitionReader.scala`)
  * with the SURVEY.md §4 fixes:
  *  (a) recursive And/Or pushability (no executor MatchError),
  *  (b) predicate evaluation on decoded values (correct ordering for
  *      negative numerics),
  *  (c) idempotent pushFilters (the reference's buffer is append-only
  *      across calls),
  *  (d) rowkey predicates prune whole shards at plan time AND clip the
  *      scan range inside each shard (the reference's open TODO at
  *      `HbasePartitionReader.scala:147`).
  */
class KvScanBuilder(catalog: KvCatalog, dir: String, columnar: Boolean = true,
                    asOf: Option[Long] = None, since: Option[Long] = None,
                    maxVersionsPerTrigger: Long = 0L, bucketPrune: Boolean = true,
                    eventTime: Option[KvEventTime] = None,
                    maxBytesPerTrigger: Long = 0L)
    extends ScanBuilder
    with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private val declared = catalog.schema
  // the read schema starts as declared + the derived event-time column
  // (when the contract asks for one); pruning may drop either
  private var prunedSchema: StructType = KvEventTime.withEventTime(declared, eventTime)
  private var pushed: Array[Filter] = Array.empty
  private var pushedV2: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  private var limit: Int = -1
  private var reverse: Boolean = false
  private var aggSpecs: Option[(Seq[String], Seq[KvAggSpec])] = None

  /** Top-N pushdown (SURVEY.md §2.6 rebuild item): shards are SORTED by
    * rowkey, so ORDER BY rowkey ASC LIMIT n needs only the first n
    * matching records of each surviving shard, and ORDER BY rowkey DESC
    * LIMIT n needs only the LAST n (the reference's own Java demo shape,
    * `JavaDatasourceTest.java:40`). Partial pushdown — Spark still
    * merges+sorts the per-partition prefixes/suffixes. The streaming
    * shard format has no record index, so DESC keeps the forward read but
    * retains only a ring buffer of the last n matches per shard
    * ([[KvPartitionReader]]) — each shard still RETURNS ≤ n rows. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val dir: Option[SortDirection] =
      if (n <= 0 || orders.length != 1 || aggSpecs.nonEmpty) None
      else orders(0).expression() match {
        case ref: NamedReference
            if ref.fieldNames().length == 1 && ref.fieldNames()(0) == catalog.rowkey =>
          Some(orders(0).direction())
        case _ => None
      }
    dir match {
      case Some(SortDirection.ASCENDING)  => limit = n; reverse = false; true
      case Some(SortDirection.DESCENDING) => limit = n; reverse = true; true
      case _                              => false
    }
  }
  override def isPartiallyPushed: Boolean = true

  /** Complete pushdown exactly when the aggregation translates and the
    * read goes to the driver ([[driverRead]]): the driver folds every
    * surviving shard into final rows. Otherwise partial: each shard
    * returns one partial row per group and Spark merges. Spark asks
    * twice (before and after rewriting AVG to SUM/COUNT), so the answer
    * depends only on the aggregation, the pushed filters and the
    * builder's one manifest snapshot. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    KvAggSpec.translate(agg, declared).isDefined && driverRead

  // read once per builder: the driver-read rule, every completeness
  // answer and the scan build() returns (its read, statistics and
  // partitioning) see the same manifest, so a commit landing
  // mid-negotiation cannot make the scan disagree with the plan Spark
  // built around it
  private lazy val snapshot: KvTableMeta = KvStore.readMetaAsOf(dir, asOf)

  /** The one driver-read rule: a batch read runs on the driver
    * ([[KvDriverScan]]) when it is a snapshot (an incremental window
    * stays distributed: its shard set comes from the manifest chain, and
    * a stream tails it per micro-batch), the pushed filters bound the
    * rowkey (the provably empty set included), and the shards they
    * select fit the one-reader budget ([[KvScan.withinOneTask]]). An
    * unbounded read keeps one task per shard: one reader decoding a
    * whole table is slower than the job it saves. */
  private def driverRead: Boolean =
    since.isEmpty &&
      KvScan.rowkeyRanges(pushed, declared, catalog.rowkey) != KeyRanges.Full &&
      KvScan.withinOneTask(dir, KvScan.select(snapshot.shards, pushed, declared,
        catalog.rowkey, if (bucketPrune) catalog.buckets else 0).parts)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    KvAggSpec.translate(agg, declared) match {
      case Some(gs) => aggSpecs = Some(gs); true
      case None     => false
    }

  /** V2 predicate negotiation (the v1 `SupportsPushDownFilters` path is
    * consulted first by Spark when both exist, so the builder implements
    * ONLY v2 — see [[V2Filters]]). Predicates translate to v1 `Filter`s
    * for [[FilterEval]]; anything untranslatable or unpushable stays
    * residual. */
  override def pushPredicates(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val dts = declared.fields.map(f => f.name -> f.dataType).toMap
    // full reassignment each call → idempotent under repeated negotiation
    val translated = predicates.map(p => p -> V2Filters.toV1(p))
    val (ok, residual) = translated.partition {
      case (_, v1) => v1.exists(FilterEval.pushable(_, dts))
    }
    pushed = ok.flatMap(_._2)
    pushedV2 = ok.map(_._1)
    residual.map(_._1)
  }
  override def pushedPredicates(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushedV2

  override def pruneColumns(required: StructType): Unit =
    // keep the DECLARED field (with cf/qual metadata) per required name,
    // as the reference does (`HbaseScanBuilder.scala:54-59`); `_shard`
    // and `_event_time` pass through as reader-synthesized pseudo-columns
    prunedSchema = KvMetadataColumns.prune(declared, required, eventTime)

  override def pushLimit(l: Int): Boolean =
    if (aggSpecs.nonEmpty) false else { limit = l; true }

  override def build(): Scan = aggSpecs match {
    case Some((groupCols, specs)) =>
      val scan = new KvAggScan(dir, catalog.rowkey, declared, pushed, groupCols, specs, asOf,
        since, catalog.buckets, bucketPrune, snapshot)
      if (driverRead) scan.onDriver else scan
    case None =>
      val scan = new KvScan(dir, catalog.rowkey, prunedSchema, declared, pushed, limit,
        reverse, columnar, asOf, catalog.buckets, since, maxVersionsPerTrigger,
        bucketPrune, eventTime, maxBytesPerTrigger, snapshot)
      if (driverRead) scan.onDriver else scan
  }
}

/** Serializable partition: one shard + the (possibly multi-) clipped
  * key ranges — sorted, disjoint, inclusive hex bounds (None =
  * unbounded); `Seq((None, None))` = unclipped. `runtime` carries the
  * runtime (DPP) filters that arrived AFTER planning started: Spark
  * forces the reader factory early (its `supportsColumnar` probe), so
  * the factory's captured filter array predates any runtime IN-set —
  * but `planInputPartitions` IS re-run after `filter(...)`, making the
  * partition itself the only driver→executor channel that sees them
  * (the executor-side bloom gate reads it; per-row eval stays on the
  * static filters — the join re-verifies every row anyway, and a
  * 10k-literal DPP IN-set linear-scanned per record would cost more
  * than it saves). Locality hints flow
  * from the shard manifest's optional `hosts` list — the rebuild of the
  * reference's per-region preferred host
  * (`/root/reference/src/main/scala/com/dm/hbase/spark3/datasource/HbaseInputPartition.scala:5-7`,
  * captured from the region locator at `HbaseScan.scala:34`); on a
  * shared filesystem the list is empty and Spark schedules freely. */
case class KvInputPartition(shard: KvShardMeta,
                            ranges: Seq[(Option[String], Option[String])],
                            runtime: Seq[Filter] = Nil)
    extends InputPartition {
  override def preferredLocations(): Array[String] = shard.hosts.toArray
  /** No clip at all — the aggregate manifest fast path's gate. */
  def isFullRange: Boolean = ranges.length == 1 &&
    ranges.head._1.isEmpty && ranges.head._2.isEmpty
  /** Decoded ranges in ShardReader form (null = unbounded). */
  def decodedRanges: Array[(Array[Byte], Array[Byte])] =
    ranges.map { case (lo, hi) =>
      (lo.map(KvStore.fromHex).orNull, hi.map(KvStore.fromHex).orNull)
    }.toArray
}

object KvInputPartition {
  val FullRange: Seq[(Option[String], Option[String])] = Seq((None, None))
  def apply(shard: KvShardMeta): KvInputPartition =
    KvInputPartition(shard, FullRange)
  /** Unwrap a possibly-keyed partition to the KV partition readers use. */
  def unwrap(p: InputPartition): KvInputPartition = p match {
    case k: KvKeyedInputPartition => k.inner
    case kp: KvInputPartition     => kp
    case other => throw new IllegalArgumentException(
      s"not a graft-kv partition: ${other.getClass.getName}")
  }
}

/** A [[KvInputPartition]] carrying its shard's bucket id as a
  * `HasPartitionKey` partition key (an `InternalRow` of the
  * `bucket(n, rowkey)` transform's INT result) — what lets Spark group
  * the partitions of a bucketed table per bucket and zip them against
  * the matching buckets of a co-partitioned join side. */
case class KvKeyedInputPartition(inner: KvInputPartition, bucketId: Int)
    extends InputPartition with HasPartitionKey {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

class KvScan(dir: String, rowkeyName: String, prunedSchema: StructType,
             declared: StructType, filters: Array[Filter], limit: Int,
             reverse: Boolean = false, columnar: Boolean = true,
             asOf: Option[Long] = None, buckets: Int = 0,
             since: Option[Long] = None, maxVersionsPerTrigger: Long = 0L,
             bucketPrune: Boolean = true,
             eventTime: Option[KvEventTime] = None,
             maxBytesPerTrigger: Long = 0L,
             snapshot: => KvTableMeta)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportOrdering with SupportsReportPartitioning {

  /** The builder's manifest snapshot: statistics, partitioning and
    * partition planning read this one parse. A stream never forces it
    * (each micro-batch plans from the live manifest). */
  private lazy val tableMeta: KvTableMeta = snapshot

  /** Every partition emits rowkey order: a shard file is sorted by key,
    * multi-range clips are visited in sorted range order, and the DESC
    * tail reader serves its ring buffer newest-first (key-descending).
    * Reporting it (DSv2 `SupportsReportOrdering`, picked up by Spark's
    * `V2ScanPartitioningAndOrdering` rule) lets the planner drop
    * partition-local Sorts on the rowkey instead of re-sorting data the
    * storage layout already ordered. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (prunedSchema.fieldNames.contains(rowkeyName)) {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      val d = if (reverse) SortDirection.DESCENDING else SortDirection.ASCENDING
      Array(Expressions.sort(Expressions.column(rowkeyName), d))
    } else Array.empty

  /** Runtime filters (e.g. DPP-style IN-sets from a join's build side)
    * arrive after planning starts; they tighten both shard pruning and
    * per-row evaluation. */
  private var runtimeFilters: Array[Filter] = Array.empty
  private def allFilters: Array[Filter] = filters ++ runtimeFilters

  /** Which columns Spark's runtime-filter planner may target. The
    * rowkey re-prunes key ranges (q85); NON-rowkey columns joined a
    * runtime IN-set prune through zone maps driver-side and bloom
    * sidecars executor-side (q107) — at 100 TB a selective dim-side
    * join key skips whole regions the build side never touches, the
    * same job parquet's row-group blooms do under a DPP filter.
    * Declaring a column costs nothing when no stats exist for it (zone
    * maps and blooms both degrade to "might contain"), and the
    * interface is best-effort — the join itself still verifies every
    * row. Only PRUNED-schema columns may be declared: Spark's
    * PartitionPruning resolves every declared ref against the scan's
    * output and throws on a projected-away column (a join key is
    * necessarily in the output, so nothing filterable is lost). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    prunedSchema.fieldNames.map(Expressions.column)
  }

  override def filter(newFilters: Array[Filter]): Unit = {
    val dts = declared.fields.map(f => f.name -> f.dataType).toMap
    runtimeFilters = newFilters.filter(FilterEval.pushable(_, dts))
  }

  /** Manifest-derived stats → AQE/CBO sizing (rows; bytes estimated from
    * schema width). */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val rows: Long =
      try {
        val shards = since match {
          case Some(v) => KvStore.deltaShards(dir, v, asOf)
          case None    => tableMeta.shards
        }
        shards.map(_.rows).sum
      } catch { case _: Exception => -1L }
    private lazy val rowWidth: Long = declared.fields.map(_.dataType.defaultSize.toLong).sum + 16L
    override def sizeInBytes(): java.util.OptionalLong =
      if (rows < 0) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(rows * rowWidth)
    override def numRows(): java.util.OptionalLong =
      if (rows < 0) java.util.OptionalLong.empty() else java.util.OptionalLong.of(rows)
  }

  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a stream tails the LIVE manifest; silently ignoring a pinned
    // version would feed the user current+future data labeled as history
    require(asOf.isEmpty,
      "asOfVersion is a batch-read option; a streaming read tails the live table")
    // sinceVersion composes: it seeds the stream's INITIAL offset, so a
    // batch CDC consumer can hand its manifest-version checkpoint to a
    // streaming tail and resume exactly-once (first micro-batch = the
    // append delta after that version, not the full snapshot)
    new KvMicroBatchStream(dir, rowkeyName, prunedSchema, declared, filters,
      columnar, startVersion = since.getOrElse(0L),
      maxVersionsPerTrigger = maxVersionsPerTrigger,
      maxBytesPerTrigger = maxBytesPerTrigger,
      buckets = if (bucketPrune) buckets else 0,
      eventTime = eventTime)
  }

  override def description(): String = description(driver = false)

  /** EXPLAIN's text: the read mode first (`Read: driver` or `Read: per
    * shard`), then whether the columnar reader serves the rows — a
    * driver read always uses the row reader. */
  private[sources] def description(driver: Boolean): String = {
    val columnarRead = !driver && KvScan.columnarRead(columnar, reverse, limit, prunedSchema)
    val f = allFilters.mkString(", ")
    val lim = if (limit >= 0) limit.toString else "none"
    val topn = if (reverse) " (DESC tail)" else ""
    val pin = asOf.map(v => s", AsOf: $v").getOrElse("") +
      since.map(v => s", Since: $v").getOrElse("")
    // Columnar ahead of the filter list: plan renderers truncate the
    // description (spark.sql.maxMetadataStringLength) and the filter
    // list is the unbounded part. Ranges counts the DISJOINT planned
    // rowkey ranges (static filters only; runtime filters may tighten
    // later) — 0 = provably empty
    val nr = rowkeyRanges().length
    s"graft-kv $dir ${KvScan.readMode(driver)}, Columnar: $columnarRead$pin, Ranges: $nr, " +
      s"Limit: $lim$topn, PushedFilters: [$f]"
  }

  /** The planned rowkey ranges of the static and runtime filters. */
  private[sources] def rowkeyRanges(): Seq[KeyRanges.Range] =
    KvScan.rowkeyRanges(allFilters, declared, rowkeyName)

  // pruning observability, filled by planInputPartitions and surfaced
  // as driver-side custom metrics on the scan node (Spark SQL UI +
  // executedPlan.metrics) — at cluster scale "how many shards did the
  // manifest let us skip" is the first question a slow-scan
  // investigation asks
  private var shardsTotal = 0L
  private var selection = KvScan.Unplanned

  /** Storage-partitioned-join reporting for bucketed tables. A table
    * whose EVERY shard carries a valid bucket tag is, by the writer's
    * invariant (one shard ⊆ one bucket; [[KvDataWriter]]), physically
    * partitioned by `bucket(buckets, rowkey)` — reported here as a
    * `KeyGroupedPartitioning` so two co-bucketed tables join on their
    * rowkeys with NO exchange on either side (Spark groups the keyed
    * input partitions per bucket and zips the sides). At 100 TB this
    * removes the dominant shuffle of every fact-fact join; the
    * co-location survives appends, compaction (bucket-local merges),
    * DELETE/UPDATE rewrites and streaming epochs, because all of them
    * preserve the shard→bucket tag.
    *
    * Guards: the rowkey must still be in the output (Spark resolves the
    * transform's column against the scan relation), and any untagged
    * shard (legacy write into a re-declared table) downgrades to
    * `UnknownPartitioning` — correctness never rests on the tag. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    lazy val shards = try tableMeta.shards catch { case _: Exception => Nil }
    if (buckets > 0 && prunedSchema.fieldNames.contains(rowkeyName) &&
        KvScan.allTagged(shards, buckets)) {
      val distinct = shards.map(_.bucket).distinct.length
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.bucket(buckets, rowkeyName)), distinct)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val full = tableMeta
    // incremental (append-CDC) read: plan only the shards each commit
    // in the (since, asOf] window ADDED — a manifest-chain replay
    // ([[KvStore.deltaShards]]), zero data reads for untouched history.
    // At 100 TB the daily delta of a 100k-shard table plans from ≤64
    // manifest files, never the table.
    val meta = since match {
      case Some(v) => full.copy(shards = KvStore.deltaShards(dir, v, asOf))
      case None    => full
    }
    // a pinned or incremental read may plan shard files that
    // maintenance has since replaced — retained on the vacuum grace
    // clock, but reclaimable (truncate deletes immediately; vacuum past
    // the grace period deletes lazily) — verify here so the user gets
    // the clear "version unavailable" planning error instead of a raw
    // FileNotFoundException mid-task
    if (asOf.isDefined || since.isDefined)
      KvStore.requireShardFiles(dir, meta.shards,
        asOf.map(v => s"table version $v")
          .getOrElse(s"the incremental window since version ${since.get}"))
    shardsTotal = meta.shards.length
    selection = KvScan.select(meta.shards, allFilters, declared, rowkeyName,
      if (bucketPrune) buckets else 0)
    // keyed wrappers exactly when outputPartitioning() reported
    // KeyGrouped (judged on the FULL shard set, matching that report;
    // Spark requires every partition to expose a key or none)
    val keyed = KvScan.allTagged(full.shards, buckets)
    selection.parts.map { p =>
      val rp = p.copy(runtime = runtimeFilters.toSeq)
      (if (keyed) KvKeyedInputPartition(rp, p.shard.bucket) else rp): InputPartition
    }.toArray
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    KvScanMetrics.supported

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    KvScanMetrics.taskMetric("kvShardsTotal", shardsTotal),
    KvScanMetrics.taskMetric("kvShardsPrunedKeyRange", selection.prunedByKeyRange),
    KvScanMetrics.taskMetric("kvShardsPrunedBucket", selection.prunedByBucket),
    KvScanMetrics.taskMetric("kvShardsPrunedZoneMap", selection.prunedByZoneMap),
    KvScanMetrics.taskMetric("kvKeyRangesPlanned", selection.ranges.length.toLong))

  override def createReaderFactory(): PartitionReaderFactory =
    KvPartitionReaderFactory(dir, prunedSchema.json, declared.json,
      rowkeyName, allFilters, limit, reverse, columnar,
      KvEventTime.encode(eventTime))

  /** This read answered on the driver: every surviving shard through
    * the row reader (`_shard`, `_event_time` and the DESC ring buffer
    * need it). */
  private[sources] def onDriver: KvDriverScan =
    new KvDriverScan(this, planInputPartitions(), description(driver = true))
}

/** Shard selection, the one rule every graft-kv read and rewrite plans
  * with: the batch scan (and through it the pushed-aggregate and
  * driver-local scans), the stream micro-batch, the row-level group
  * scan and the pushable DELETE. */
object KvScan {

  /** What [[select]] planned: the disjoint rowkey ranges, one partition
    * per surviving shard carrying only the ranges that touch it (hex
    * bounds), and how many shards each pruning axis removed. */
  final case class Selection(ranges: Seq[KeyRanges.Range], parts: Seq[KvInputPartition],
                             prunedByKeyRange: Long, prunedByBucket: Long,
                             prunedByZoneMap: Long)

  /** Before planning: the unconstrained range set, nothing pruned. */
  val Unplanned: Selection = Selection(KeyRanges.Full, Nil, 0L, 0L, 0L)

  /** Compile rowkey predicates into a normalized union of disjoint
    * inclusive key ranges ([[KeyRanges]]): `IN`/`Or` shapes plan one
    * range per disjunct instead of a single [min,max] envelope, so a
    * sparse point lookup over a wide keyspace prunes every shard
    * between the points. Empty = provably matches nothing. The
    * order-preserving key encoding (BytesCodec.encodeKey) makes unsigned
    * byte order == value order for the FULL signed domain, so range
    * pruning is sound everywhere — no literal-sign special cases. */
  def rowkeyRanges(filters: Array[Filter], declared: StructType,
                   rowkey: String): Seq[KeyRanges.Range] =
    declared.find(_.name == rowkey)
      .map(f => KeyRanges.fromFilters(filters, rowkey, f.dataType))
      .getOrElse(KeyRanges.Full)

  /** The shard's bucket tag is exact under `buckets`: in range and
    * hashed under that modulus. A tag hashed under a DIFFERENT modulus
    * (the catalog's bucket count edited later) says nothing about where
    * today's hash of a key lands. */
  private def taggedUnder(s: KvShardMeta, buckets: Int): Boolean =
    s.bucket >= 0 && s.bucket < buckets && s.bucketMod == buckets

  /** Every shard tagged under the catalog modulus: the one condition
    * under which a scan reports `KeyGroupedPartitioning` and keys its
    * partitions by bucket — any other tag would put keys in the wrong
    * reported bucket and a zero-exchange join would mismatch rows. */
  def allTagged(shards: Seq[KvShardMeta], buckets: Int): Boolean =
    shards.nonEmpty && shards.forall(taggedUnder(_, buckets))

  /** One-reader budget, rows: manifest rows in the surviving shards of
    * a driver read ([[KvDriverScan]]), the read that gives up Spark's
    * per-shard parallelism. One reader decodes ~7 M surviving-shard
    * rows/s, so 2^18 rows cost about the ~35 ms fixed cost of one
    * distributed job; past it, the read keeps one task per shard. The
    * same bound caps a driver aggregate's group map and a driver row
    * read's output. */
  val MaxShardRows: Long = 1L << 18

  /** One-reader budget, bytes: the surviving shards' file sizes, since
    * wide records make a row count a poor cost proxy. Measured the same
    * way as [[MaxShardRows]], as the surviving-shard bytes a clipped
    * range read at a random key position gets through per second: one
    * reader does ~2.1 GB/s (148-byte lineitem-shaped and 124-byte
    * orders-shaped records, 4-vCPU VM), so 2^26 bytes cost about the
    * same ~35 ms. A read that must stream every surviving shard to its
    * end runs at about half that rate. */
  val MaxShardBytes: Long = 1L << 26

  /** Do these planned partitions' shards fit both one-reader budgets?
    * The byte count stats the shard files of `dir` (a missing file
    * counts 0 bytes; reading it fails with its own clear error). */
  def withinOneTask(dir: String, parts: Iterable[KvInputPartition]): Boolean =
    parts.iterator.map(_.shard.rows).sum <= MaxShardRows &&
      parts.iterator.map(p => new java.io.File(dir, p.shard.file).length()).sum <= MaxShardBytes

  /** EXPLAIN's read-mode marker. */
  def readMode(driver: Boolean): String =
    if (driver) "Read: driver" else "Read: per shard"

  /** Whether a read decodes through [[KvColumnarReader]]. A reverse scan
    * qualifies only in its pushed-TopN form (limit > 0 bounds the ring
    * buffer); reverse-without-limit never reaches a reader (pushTopN is
    * the only reverse producer) but the guard keeps the row path as the
    * sound fallback if one ever did. */
  def columnarRead(columnar: Boolean, reverse: Boolean, limit: Int,
                   pruned: StructType): Boolean =
    columnar && (!reverse || limit > 0) && KvColumnarReader.eligible(pruned) &&
      !pruned.fieldNames.contains(KvMetadataColumns.ShardCol) &&
      !pruned.fieldNames.contains(KvEventTime.EventTimeCol)

  /** The shards that can hold a row matching `filters`, in three steps:
    *  1. key ranges: a shard whose [minKey, maxKey] misses every planned
    *     range goes;
    *  2. buckets (`buckets` > 0; 0 turns the step off): a hash-bucketed
    *     layout scatters keys, so range pruning keeps nearly every
    *     shard — but a POINT lookup (every planned range a single key)
    *     can only live in the buckets its keys hash to, and the writer's
    *     invariant (one shard ⊆ one bucket) makes the tag exact. The rule
    *     is per shard: drop a shard only when its OWN tag is valid under
    *     `buckets` and names another bucket, so it is sound on mixed
    *     manifests. A span hashes anywhere and never bucket-prunes;
    *  3. zone maps: value-column predicates drop shards whose recorded
    *     min/max exclude the literal.
    * Rows in a dropped shard could never pass the per-record filter, so
    * skipping it is observationally identical. */
  def select(shards: Seq[KvShardMeta], filters: Array[Filter], declared: StructType,
             rowkey: String, buckets: Int): Selection = {
    val ranges = rowkeyRanges(filters, declared, rowkey)
    val inKeyRange = shards.filter(s =>
      KeyRanges.intersectsShard(ranges, s.minKey, s.maxKey))
    val points = if (buckets > 0) KeyRanges.pointKeys(ranges) else None
    val inBucket = points.fold(inKeyRange) { pts =>
      val wanted = pts.map(KvBuckets.ofKey(_, buckets)).toSet
      inKeyRange.filter(s => !taggedUnder(s, buckets) || wanted(s.bucket))
    }
    val surviving = KvZoneMaps.prune(inBucket, filters, declared)
    val parts = surviving.map { s =>
      // each shard carries only the ranges that touch it — the reader's
      // cursor walks a short local list, not the global set
      KvInputPartition(s, KeyRanges.clipToShard(ranges, s.minKey, s.maxKey)
        .map { case (lo, hi) => (lo.map(KvStore.toHex), hi.map(KvStore.toHex)) })
    }
    Selection(ranges, parts,
      prunedByKeyRange = (shards.length - inKeyRange.length).toLong,
      prunedByBucket = (inKeyRange.length - inBucket.length).toLong,
      prunedByZoneMap = (inBucket.length - surviving.length).toLong)
  }
}

/** Driver-side scan metrics: manifest shard count and how many shards
  * each pruning axis removed. Each metric is its own PUBLIC NO-ARG
  * class extending Spark's CustomSumMetric — the SQL UI aggregates V2
  * custom metrics by re-instantiating the metric class reflectively
  * (SQLAppStatusListener → Utils.loadExtensions), and anything without
  * a no-arg constructor silently renders as "N/A". */
object KvScanMetrics {
  class ShardsTotalMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvShardsTotal"
    override def description(): String = "total shards in manifest"
  }
  class ShardsPrunedKeyRangeMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvShardsPrunedKeyRange"
    override def description(): String = "shards pruned by rowkey range"
  }
  class ShardsPrunedZoneMapMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvShardsPrunedZoneMap"
    override def description(): String = "shards pruned by zone maps"
  }
  class ShardsPrunedBucketMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvShardsPrunedBucket"
    override def description(): String = "shards pruned by point-lookup bucket hash"
  }
  class RecordsReadMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvRecordsRead"
    override def description(): String = "records decoded by shard readers (pre-filter)"
  }
  class BytesReadMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvBytesRead"
    override def description(): String = "shard file bytes consumed"
  }
  class KeyRangesPlannedMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvKeyRangesPlanned"
    override def description(): String = "disjoint rowkey ranges planned"
  }
  class ShardsSkippedBloomMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "kvShardsSkippedBloom"
    override def description(): String = "shards skipped by bloom sidecar (executor-side)"
  }
  val supported: Array[CustomMetric] = Array(
    new ShardsTotalMetric, new ShardsPrunedKeyRangeMetric,
    new ShardsPrunedBucketMetric,
    new ShardsPrunedZoneMapMetric, new RecordsReadMetric, new BytesReadMetric,
    new KeyRangesPlannedMetric, new ShardsSkippedBloomMetric)
  def taskMetric(metricName: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metricName
      override def value(): Long = v
    }
}

/** Serializable factory (the driver→executor boundary; schemas travel as
  * JSON like the reference ships its catalog fields,
  * `HbasePartitionReaderFactory.scala:11-23`). */
case class KvPartitionReaderFactory(dir: String, prunedJson: String,
                                    declaredJson: String, rowkeyName: String,
                                    filters: Array[Filter], limit: Int,
                                    reverse: Boolean = false,
                                    columnar: Boolean = true,
                                    eventTimeEnc: String = "")
    extends PartitionReaderFactory {
  // parsed once per (driver/executor) factory instance, not per partition
  @transient private lazy val pruned =
    DataType.fromJson(prunedJson).asInstanceOf[StructType]
  @transient private lazy val declared =
    DataType.fromJson(declaredJson).asInstanceOf[StructType]
  @transient private lazy val eventTime = KvEventTime.decode(eventTimeEnc)

  override def supportColumnarReads(p: InputPartition): Boolean =
    KvScan.columnarRead(columnar, reverse, limit, pruned)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = KvInputPartition.unwrap(p)
    // executor-side bloom gate: a definite point-predicate miss answers
    // from the KiB sidecar without opening the shard file at all. The
    // partition's runtime (DPP) filters join the check — the factory's
    // own array predates them (see KvInputPartition doc)
    if (!KvBloomPrune.canMatch(dir, part.shard, filters ++ part.runtime, declared))
      new KvBloomSkippedReader[InternalRow]
    else new KvPartitionReader(dir, part, pruned, declared,
      rowkeyName, filters, limit, reverse, eventTime)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = KvInputPartition.unwrap(p)
    if (!KvBloomPrune.canMatch(dir, part.shard, filters ++ part.runtime, declared))
      new KvBloomSkippedReader[org.apache.spark.sql.vectorized.ColumnarBatch]
    else new KvColumnarReader(dir, part, pruned, declared,
      rowkeyName, filters, limit, reverse)
  }
}

/** Zero-row reader for a bloom-skipped shard; reports the skip as a
  * task metric so pruning stays observable per query. */
class KvBloomSkippedReader[T] extends PartitionReader[T] {
  override def next(): Boolean = false
  override def get(): T = throw new IllegalStateException("bloom-skipped shard has no rows")
  override def close(): Unit = ()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(KvScanMetrics.taskMetric("kvShardsSkippedBloom", 1L))
}

/** (cf, qualifier) → slot resolver for the per-cell loops: record
  * decoding ([[KvRecordDecoder]]), the columnar fast path and zone-map
  * recomputation. Slot j binds `cfs(j)`/`quals(j)`; a rowkey slot never
  * matches (no stored cell carries the rowkey pseudo-family). Lookups
  * are memoized by REFERENCE: a shard reader interns its names, so after
  * the first record a lookup is two pointer compares. A miss resolves by
  * string equality (-1 = no slot) and appends the identity pair. */
final class KvCellSlots(cfs: Array[String], quals: Array[String]) {
  private val isRowkey: Array[Boolean] = cfs.map(_ == KvCatalog.RowkeyCf)
  private var memoCf = new Array[String](8)
  private var memoQ = new Array[String](8)
  private var memoIdx = new Array[Int](8)
  private var memoN = 0

  def apply(cf: String, q: String): Int = {
    var i = 0
    while (i < memoN) {
      if ((memoCf(i) eq cf) && (memoQ(i) eq q)) return memoIdx(i)
      i += 1
    }
    var idx = -1
    var j = 0
    while (j < cfs.length && idx < 0) {
      if (!isRowkey(j) && cfs(j) == cf && quals(j) == q) idx = j
      j += 1
    }
    // One reader's names are few, but a resolver shared across shard
    // readers (a driver aggregate's decoder) meets each shard's own
    // interned instances, so the memo would grow linearly — reset
    // instead of letting every cell lookup walk a long table.
    if (memoN == 256) memoN = 0
    if (memoN == memoCf.length) {
      memoCf = java.util.Arrays.copyOf(memoCf, memoN * 2)
      memoQ = java.util.Arrays.copyOf(memoQ, memoN * 2)
      memoIdx = java.util.Arrays.copyOf(memoIdx, memoN * 2)
    }
    memoCf(memoN) = cf; memoQ(memoN) = q; memoIdx(memoN) = idx
    memoN += 1
    idx
  }
}

/** Precomputed record→scratch-array resolver shared by the row and
  * aggregate partition readers — the scan's innermost loop. All lookup
  * structures are resolved ONCE at construction; `decodeInto` fills a
  * reused scratch slot per needed field with no per-record allocation
  * (a null slot ≡ missing cell ≡ SQL NULL). */
final class KvRecordDecoder(declared: StructType, neededNames: Set[String]) {
  val needed: Array[StructField] = declared.fields.filter(f => neededNames(f.name))
  private val neededCf: Array[String] = needed.map(_.metadata.getString("columnFamily"))
  private val neededQual: Array[String] = needed.map(_.metadata.getString("column"))
  private val neededIsRowkey: Array[Boolean] = neededCf.map(_ == KvCatalog.RowkeyCf)
  val idxByName: Map[String, Int] = needed.map(_.name).zipWithIndex.toMap
  val dtByName: Map[String, DataType] =
    declared.fields.map(f => f.name -> f.dataType).toMap
  val scratch = new Array[Any](needed.length)
  val getByName: String => Any = name => scratch(idxByName(name))

  /** Parse-time cell filter for [[graft.kv.KvStore.ShardReader]]: keep
    * only cells some needed field decodes from (the rowkey pseudo-CF
    * never materializes as a stored cell). Unprojected cell values are
    * then SKIPPED in the stream — no allocation, no copy. */
  val wantedCell: (String, String) => Boolean = (cf, q) => {
    var i = 0
    var hit = false
    while (!hit && i < needed.length) {
      hit = !neededIsRowkey(i) && neededCf(i) == cf && neededQual(i) == q
      i += 1
    }
    hit
  }

  private val slots = new KvCellSlots(neededCf, neededQual)

  /** One pass over the record's cells (not needed × cells): each cell
    * resolves its field index through the identity memo and decodes
    * straight into the scratch slot. First matching cell wins, missing
    * cell ≡ null ≡ SQL NULL — identical semantics to the reference's
    * per-column HBase `Result` lookup. */
  def decodeInto(rec: KvRecord): Unit = {
    var i = 0
    while (i < needed.length) {
      scratch(i) =
        if (neededIsRowkey(i)) BytesCodec.decodeKey(needed(i).dataType, rec.key)
        else null
      i += 1
    }
    val cells = rec.cells
    var j = 0
    while (j < cells.length) {
      val c = cells(j)
      val k = slots(c.cf, c.qualifier)
      if (k >= 0 && scratch(k) == null)
        scratch(k) = BytesCodec.decode(needed(k).dataType, c.value)
      j += 1
    }
  }
}

/** Per-partition reader: streams one shard, decodes only required +
  * filter-referenced columns, evaluates pushed predicates on decoded
  * values, honors the pushed limit.
  *
  * `reverse` = pushed ORDER BY rowkey DESC LIMIT n: the streaming shard
  * format has no record index, so the file is still read forward once,
  * but only a ring buffer of the LAST `limit` matching projections is
  * retained and then served newest-first — the shard contributes ≤ n
  * rows (its key-descending prefix) and O(n) memory, never the full
  * shard. */
class KvPartitionReader(dir: String, part: KvInputPartition,
                        pruned: StructType, declared: StructType,
                        rowkeyName: String, filters: Array[Filter], limit: Int,
                        reverse: Boolean = false,
                        eventTime: Option[KvEventTime] = None)
    extends PartitionReader[InternalRow] {

  // `_event_time` = derived pseudo-column: decoded from its SOURCE long
  // column and rescaled to epoch micros (Spark's internal timestamp) at
  // projection — no datetime machinery in the record loop
  private val needsEvent =
    eventTime.isDefined && pruned.fieldNames.contains(KvEventTime.EventTimeCol)
  // columns needed = pruned ∪ filter references (`_shard` is synthesized
  // per partition, not decoded; `_event_time` decodes via its source)
  private val decoder = new KvRecordDecoder(declared,
    pruned.fieldNames.toSet - KvEventTime.EventTimeCol ++
      (if (needsEvent) Set(eventTime.get.sourceCol) else Set.empty[String]) ++
      filters.flatMap(_.references))
  private val reader = new KvStore.ShardReader(dir, part.shard,
    wanted = decoder.wantedCell, ranges = part.decodedRanges)
  private val shardName =
    org.apache.spark.unsafe.types.UTF8String.fromString(part.shard.file)
  private val eventSrcIdx =
    if (needsEvent) decoder.idxByName(eventTime.get.sourceCol) else -1
  // pruned position k ← needed position prunedFromNeeded(k);
  // -1 = _shard, -2 = _event_time
  private val prunedFromNeeded: Array[Int] = pruned.fieldNames.map {
    case KvMetadataColumns.ShardCol => -1
    case KvEventTime.EventTimeCol if needsEvent => -2
    case n => decoder.idxByName(n)
  }
  private val pred = FilterEval.compile(filters, decoder.idxByName, decoder.dtByName,
    decoder.scratch)

  private var current: InternalRow = _
  private var served = 0L
  private var recordsRead = 0L // pre-filter: every record decoded

  private def project(): Array[Any] = {
    val values = new Array[Any](pruned.length)
    var k = 0
    while (k < values.length) {
      val i = prunedFromNeeded(k)
      values(k) =
        if (i == -1) shardName
        else if (i == -2) {
          val raw = decoder.scratch(eventSrcIdx)
          if (raw == null) null
          else java.lang.Long.valueOf(
            eventTime.get.toMicros(raw.asInstanceOf[java.lang.Long]))
        } else decoder.scratch(i)
      k += 1
    }
    values
  }

  // ---- reverse (DESC tail) mode ----
  private var tail: Array[Array[Any]] = _ // ring buffer, size = limit
  private var tailMatches = 0L            // total matches seen in the shard

  private def fillTail(): Unit = {
    tail = new Array[Array[Any]](limit)
    while (reader.hasNext) {
      decoder.decodeInto(reader.next())
      recordsRead += 1
      if (pred()) {
        tail((tailMatches % limit).toInt) = project()
        tailMatches += 1
      }
    }
  }

  override def next(): Boolean = {
    if (limit >= 0 && served >= limit) return false
    if (reverse && limit > 0) {
      if (tail == null) fillTail()
      if (served >= math.min(tailMatches, limit.toLong)) return false
      // newest-first: served=0 → last match, walking backwards in the ring
      val slot = ((tailMatches - 1L - served) % limit).toInt
      current = InternalRow.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(tail(slot)))
      served += 1
      return true
    }
    while (reader.hasNext) {
      decoder.decodeInto(reader.next())
      recordsRead += 1
      if (pred()) {
        current = InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(project()))
        served += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    KvScanMetrics.taskMetric("kvRecordsRead", recordsRead),
    KvScanMetrics.taskMetric("kvBytesRead", reader.bytesRead))
}
