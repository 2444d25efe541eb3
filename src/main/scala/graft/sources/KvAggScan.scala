package graft.sources

import graft.kv._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** Aggregate pushdown (SURVEY.md §2.4 stretch — `SupportsPushDownAggregates`,
  * absent in the reference): COUNT(*) / COUNT(col) / MIN / MAX / SUM run
  * inside the scan, globally or GROUPED BY declared columns, in one of
  * two modes ([[KvScanBuilder.supportCompletePushDown]] picks):
  *  - driver (complete pushdown): a read the driver-read rule sends to
  *    the driver ([[KvDriverScan]]) folds every surviving shard into one
  *    accumulator in one reader ([[KvAggShards]]) and emits the final
  *    rows, so Spark plans only its aliasing `Project` over them;
  *  - partial: every other aggregate plans one partition per shard,
  *    each emitting one partial row per group (one total when
  *    ungrouped), and Spark's final aggregate merges the partials
  *    across shards after a shuffle.
  * Per shard, in both modes: a bloom-excluded shard contributes nothing,
  * and a global COUNT(*)/MIN/MAX over a shard every record of which
  * matches is answered from its manifest entry without opening the file.
  *
  * Grouped memory shape: in partial mode GROUP BY the rowkey streams —
  * shards are key-sorted, so equal keys are adjacent and each group
  * closes as the scan passes it (O(1) state). Any other grouping, and
  * every grouping in driver mode (overlapping shards repeat a rowkey,
  * and the groups must merge), holds a hash map bounded by the rows it
  * reads: one shard's (bounded by the writer's `chunkBytes`) in partial
  * mode, [[KvScan.MaxShardRows]] in driver mode.
  */
sealed trait KvAggSpec extends Serializable
case object KvCountStar extends KvAggSpec
final case class KvCountCol(name: String) extends KvAggSpec
final case class KvMinCol(name: String) extends KvAggSpec
final case class KvMaxCol(name: String) extends KvAggSpec
/** `checked` = ANSI mode was on at translation: the integral sum
  * accumulates with overflow-CHECKED addition (Math.addExact) so the
  * pushed sum raises on overflow exactly where Spark's own Sum would,
  * instead of silently wrapping under a session that promises
  * ARITHMETIC_OVERFLOW — in driver mode also when only the total
  * across shards overflows. Non-ANSI sums keep wrap-around addition —
  * associative, so shard partials merged by Spark wrap to the same
  * answer Spark itself computes. */
final case class KvSumCol(name: String, checked: Boolean = false) extends KvAggSpec

object KvAggSpec {
  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case f: NamedReference if f.fieldNames().length == 1 => Some(f.fieldNames()(0))
      case _ => None
    }

  /** SUM pushes for integral (partial accumulates in Long — wrap-around
    * addition is associative, so per-shard partials merged by Spark wrap
    * to the same non-ANSI answer Spark itself computes) and floating
    * (Double) columns. Decimal stays residual: Spark widens decimal sums
    * with precision arithmetic the partial would have to replicate
    * exactly. */
  private def summable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => true
    case _ => false
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Translate a connector Aggregation into (group columns, agg specs);
    * None → not pushable. MIN/MAX additionally require an orderable
    * declared type — claiming a decimal/binary/array column and then
    * failing executor-side would break a query Spark could run itself.
    * Group columns must be plain declared columns of comparable atomic
    * type (decoded values carry value equality; arrays/maps don't). */
  def translate(agg: Aggregation, declared: StructType): Option[(Seq[String], Seq[KvAggSpec])] = {
    val names = declared.fieldNames.toSet
    val byName = declared.fields.map(f => f.name -> f.dataType).toMap
    val orderable: Set[String] = declared.fields
      .filter(f => FilterEval.comparable(f.dataType)).map(_.name).toSet
    val groupCols: Seq[String] = agg.groupByExpressions().toIndexedSeq.map { e =>
      fieldName(e).filter(orderable).getOrElse(return None)
    }
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => KvCountStar
      case c: Count if !c.isDistinct =>
        fieldName(c.column()).filter(names).map(KvCountCol.apply).getOrElse(return None)
      case m: Min =>
        fieldName(m.column()).filter(orderable).map(KvMinCol.apply).getOrElse(return None)
      case m: Max =>
        fieldName(m.column()).filter(orderable).map(KvMaxCol.apply).getOrElse(return None)
      case s: Sum if !s.isDistinct =>
        fieldName(s.column()).filter(n => byName.get(n).exists(summable))
          .map(n => KvSumCol(n,
            // ANSI sessions (Spark 4's default) promise ARITHMETIC_OVERFLOW
            // on integral sum overflow — the pushed partial must raise
            // instead of wrapping (doubles saturate, never raise)
            checked = byName.get(n).exists(isIntegral) &&
              org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
          .getOrElse(return None)
      case _ => return None
    }
    Some((groupCols, specs.toIndexedSeq))
  }

  /** The partial sum's column type — Spark's own Sum result type for the
    * input (integral → Long, floating → Double), so the rewritten final
    * Sum merges partials without a cast. */
  def sumType(dt: DataType): DataType = if (isIntegral(dt)) LongType else DoubleType

  /** Scan output schema: group columns FIRST, then one column per agg —
    * the order `V2ScanRelationPushDown` zips its rewritten aggregate
    * against. */
  def outputSchema(groupCols: Seq[String], specs: Seq[KvAggSpec],
                   declared: StructType): StructType = {
    val byName = declared.fields.map(f => f.name -> f).toMap
    StructType(
      groupCols.map(n => StructField(n, byName(n).dataType, byName(n).nullable)) ++
      specs.zipWithIndex.map {
        case (KvCountStar, i)    => StructField(s"count_star_$i", LongType, nullable = false)
        case (KvCountCol(n), i)  => StructField(s"count_${n}_$i", LongType, nullable = false)
        case (KvMinCol(n), i)    => StructField(s"min_${n}_$i", byName(n).dataType)
        case (KvMaxCol(n), i)    => StructField(s"max_${n}_$i", byName(n).dataType)
        case (KvSumCol(n, _), i) => StructField(s"sum_${n}_$i", sumType(byName(n).dataType))
      })
  }
}

class KvAggScan(dir: String, rowkeyName: String, declared: StructType,
                filters: Array[Filter], groupCols: Seq[String], specs: Seq[KvAggSpec],
                asOf: Option[Long] = None, since: Option[Long] = None,
                buckets: Int = 0, bucketPrune: Boolean = true, snapshot: => KvTableMeta)
    extends Scan with Batch {

  // the base scan owns shard selection (ranges, zone maps, asOf, since,
  // point-lookup bucket pruning — including the bucketPrune escape
  // hatch, threaded through so the A/B knob is symmetric across both
  // scan shapes), so pushed aggregates — including the manifest stats
  // fast path, which reads per-PARTITION shard meta — see exactly the
  // incremental subset
  private[sources] val base =
    new KvScan(dir, rowkeyName, declared, declared, filters, -1, asOf = asOf,
      buckets = buckets, since = since, bucketPrune = bucketPrune, snapshot = snapshot)

  override def readSchema(): StructType = KvAggSpec.outputSchema(groupCols, specs, declared)
  override def toBatch: Batch = this
  override def description(): String = description(driver = false)

  // the mode leads: plan renderers truncate long descriptions
  private def description(driver: Boolean): String =
    s"graft-kv-agg $dir ${KvScan.readMode(driver)}, " +
      s"PushedAggregates: [${specs.mkString(", ")}], " +
      s"PushedGroupBy: [${groupCols.mkString(", ")}], " +
      s"PushedFilters: [${filters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = base.planInputPartitions()

  /** This aggregate answered on the driver: one reader folds every
    * surviving shard into final rows — one partition even over zero
    * shards, so a global aggregate still answers its one row (COUNT 0,
    * MIN/SUM NULL). */
  private[sources] def onDriver: KvDriverScan =
    new KvDriverScan(this,
      Array(KvAggShards(planInputPartitions().map(KvInputPartition.unwrap).toSeq)),
      description(driver = true))

  // pruning metrics ride the base scan's partition planning
  override def supportedCustomMetrics() = base.supportedCustomMetrics()
  override def reportDriverMetrics() = base.reportDriverMetrics()

  override def createReaderFactory(): PartitionReaderFactory =
    KvAggReaderFactory(dir, declared.json, rowkeyName, filters, groupCols, specs)
}

/** A driver aggregate's only partition: every surviving shard with its
  * clipped ranges. */
case class KvAggShards(parts: Seq[KvInputPartition]) extends InputPartition

case class KvAggReaderFactory(dir: String, declaredJson: String, rowkeyName: String,
                              filters: Array[Filter], groupCols: Seq[String],
                              specs: Seq[KvAggSpec])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val declared = DataType.fromJson(declaredJson).asInstanceOf[StructType]
    val (parts, folded) = p match {
      case all: KvAggShards => (all.parts, true)
      case one => (Seq(KvInputPartition.unwrap(one)), false) // base scan keys bucketed shards
    }
    new KvAggPartitionReader(dir, parts, declared, rowkeyName, filters, groupCols, specs,
      folded)
  }
}

/** Aggregate rows over `parts`: in partial mode (one shard) one partial
  * row per group, `folded` (a driver read) the final rows of every shard
  * folded into one accumulator. An ungrouped folded read emits exactly one
  * row, even when no shard survives. */
class KvAggPartitionReader(dir: String, parts: Seq[KvInputPartition], declared: StructType,
                           rowkeyName: String, filters: Array[Filter],
                           groupCols: Seq[String], specs: Seq[KvAggSpec],
                           folded: Boolean)
    extends PartitionReader[InternalRow] {

  private val dtByName = declared.fields.map(f => f.name -> f.dataType).toMap
  // read-volume task metrics (same names as the row/columnar readers);
  // the manifest-only fast path legitimately reads nothing
  private var recordsRead = 0L
  private var bytesRead = 0L
  private var skippedBloom = 0L

  private def ordering(dt: DataType): Ordering[Any] = dt match {
    case StringType => Ordering.by((v: Any) => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      .asInstanceOf[Ordering[Any]]
    case _: NumericType | DateType | TimestampType =>
      new Ordering[Any] {
        def compare(a: Any, b: Any): Int = (a, b) match {
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case (x: Int, y: Int) => Integer.compare(x, y)
          case (x: Short, y: Short) => java.lang.Short.compare(x, y)
          case (x: Byte, y: Byte) => java.lang.Byte.compare(x, y)
          case (x: Double, y: Double) => java.lang.Double.compare(x, y)
          case (x: Float, y: Float) => java.lang.Float.compare(x, y)
          case (x: org.apache.spark.sql.types.Decimal,
                y: org.apache.spark.sql.types.Decimal) => x.compare(y)
          case _ => throw new IllegalStateException(s"unorderable $a/$b")
        }
      }
    case BooleanType => Ordering.by((v: Any) => v.asInstanceOf[Boolean]).asInstanceOf[Ordering[Any]]
    case other => throw new IllegalStateException(s"min/max unsupported for $other")
  }

  /** Mutable per-group state (counts + min/max + sums per column).
    * Integral sums accumulate in Long (wrap-around addition is
    * associative — partials merged by Spark wrap to the same non-ANSI
    * answer); floating sums in Double. `sumSeen` keeps an all-null
    * group's sum NULL, as SQL requires. */
  private final class GroupState(nCounts: Int, nMm: Int, nSums: Int) {
    var countStar = 0L
    val counts = new Array[Long](nCounts)
    val mins = new Array[Any](nMm)
    val maxs = new Array[Any](nMm)
    val sumsL = new Array[Long](nSums)
    val sumsD = new Array[Double](nSums)
    val sumSeen = new Array[Boolean](nSums)
  }

  // shared per-column layout ([[KvRecordDecoder]], same hot loop as
  // KvPartitionReader): resolved ONCE; the per-record loop fills a
  // reused scratch array — no per-record hash maps or closures.
  // Grouping needs its key columns decoded too.
  private val neededCols: Set[String] = specs.collect {
    case KvCountCol(n) => n
    case KvMinCol(n)   => n
    case KvMaxCol(n)   => n
    case KvSumCol(n, _) => n
  }.toSet ++ groupCols ++ filters.flatMap(_.references)

  private val countNames: Seq[String] = specs.collect { case KvCountCol(n) => n }.distinct
  private val minMaxNames: Seq[String] = specs.collect {
    case KvMinCol(n) => n
    case KvMaxCol(n) => n
  }.distinct
  private val sumNames: Seq[String] = specs.collect { case KvSumCol(n, _) => n }.distinct
  private val countPos: Map[String, Int] = countNames.zipWithIndex.toMap
  private val mmPos: Map[String, Int] = minMaxNames.zipWithIndex.toMap
  private val sumPos: Map[String, Int] = sumNames.zipWithIndex.toMap
  private val mmOrd: Array[Ordering[Any]] =
    minMaxNames.map(n => ordering(dtByName(n))).toArray
  private val sumIntegral: Array[Boolean] =
    sumNames.map(n => KvAggSpec.sumType(dtByName(n)) == LongType).toArray
  private val sumChecked: Array[Boolean] =
    sumNames.map(n => specs.exists {
      case KvSumCol(`n`, c) => c
      case _ => false
    }).toArray

  private def resultRow(groupKey: Array[Any], st: GroupState): InternalRow =
    InternalRow.fromSeq(groupKey.toIndexedSeq ++ specs.map {
      case KvCountStar   => st.countStar
      case KvCountCol(n) => st.counts(countPos(n))
      case KvMinCol(n)   => st.mins(mmPos(n))
      case KvMaxCol(n)   => st.maxs(mmPos(n))
      case KvSumCol(n, _) =>
        val p = sumPos(n)
        if (!st.sumSeen(p)) null
        else if (sumIntegral(p)) st.sumsL(p) else st.sumsD(p)
    })

  // one decoder and one compiled predicate serve every shard the
  // reader scans; the layout below indexes its scratch array
  private val decoder = new KvRecordDecoder(declared, neededCols)
  private val pred = FilterEval.compile(filters, decoder.idxByName, decoder.dtByName,
    decoder.scratch)
  private val countIdx: Array[Int] = countNames.map(decoder.idxByName).toArray
  private val mmIdx: Array[Int] = minMaxNames.map(decoder.idxByName).toArray
  private val sumIdx: Array[Int] = sumNames.map(decoder.idxByName).toArray
  private val groupIdx: Array[Int] = groupCols.map(decoder.idxByName).toArray
  private def newState() = new GroupState(countNames.length, minMaxNames.length, sumNames.length)

  /** Fold the decoded record into `st`. */
  private def accumulate(st: GroupState): Unit = {
    st.countStar += 1
    var i = 0
    while (i < countIdx.length) {
      if (decoder.scratch(countIdx(i)) != null) st.counts(i) += 1
      i += 1
    }
    i = 0
    while (i < mmIdx.length) {
      val v = decoder.scratch(mmIdx(i))
      if (v != null) {
        if (st.mins(i) == null || mmOrd(i).lt(v, st.mins(i))) st.mins(i) = v
        if (st.maxs(i) == null || mmOrd(i).gt(v, st.maxs(i))) st.maxs(i) = v
      }
      i += 1
    }
    i = 0
    while (i < sumIdx.length) {
      val v = decoder.scratch(sumIdx(i))
      if (v != null) {
        st.sumSeen(i) = true
        if (sumIntegral(i)) {
          val x = v.asInstanceOf[Number].longValue()
          // checked = ANSI session: raise on overflow like Spark's Sum —
          // via Spark's error class (ARITHMETIC_OVERFLOW), not a bare
          // JVM ArithmeticException, so callers matching on the
          // documented class see the same exception as the unpushed plan
          st.sumsL(i) =
            if (sumChecked(i))
              try Math.addExact(st.sumsL(i), x)
              catch { case _: ArithmeticException =>
                throw org.apache.spark.graft.GraftSparkErrors
                  .arithmeticOverflow("long overflow", "try_add")
              }
            else st.sumsL(i) + x
        } else st.sumsD(i) += v.asInstanceOf[Number].doubleValue()
      }
      i += 1
    }
  }

  /** Manifest value for one aggregate spec, when the whole-shard answer
    * is recorded there: COUNT(*) = shard rows; MIN/MAX = the rowkey
    * bounds (minKeyHex/maxKeyHex) for the key column, zone-map bounds
    * for cell columns. Exactness caveats: bounds cover non-null values
    * only — exactly MIN/MAX's semantics; timestamps are EXCLUDED (the
    * key encoding floors micros to millis, so the stored max is not the
    * true max); a missing zone-map entry (all-null column, oversized
    * bound, legacy manifest) returns None and the shard falls back to a
    * real scan. */
  private def manifestValue(shard: KvShardMeta, spec: KvAggSpec): Option[Any] = spec match {
    case KvCountStar => Some(shard.rows)
    case KvMinCol(n) => manifestBound(shard, n, isMax = false)
    case KvMaxCol(n) => manifestBound(shard, n, isMax = true)
    case _ => None // COUNT(col) needs a null count; SUM needs the values
  }

  private def manifestBound(shard: KvShardMeta, n: String, isMax: Boolean): Option[Any] = {
    val fld = declared.fields.find(_.name == n).getOrElse(return None)
    val dt = fld.dataType
    if (dt == TimestampType || shard.rows == 0L) return None
    val cf = fld.metadata.getString("columnFamily")
    if (cf == KvCatalog.RowkeyCf)
      Some(BytesCodec.decodeKey(dt,
        KvStore.fromHex(if (isMax) shard.maxKeyHex else shard.minKeyHex)))
    else
      shard.stats.get(s"$cf:${fld.metadata.getString("column")}").map {
        case (mnHex, mxHex) =>
          BytesCodec.decodeKey(dt, KvStore.fromHex(if (isMax) mxHex else mnHex))
      }
  }

  // the pushed filters constrain only the rowkey, each to one key
  // interval — then a shard whose first and last keys both match holds
  // only matching records (its keys all lie between the two)
  private val rowkeyInterval: Boolean =
    filters.forall(FilterEval.oneInterval(_, rowkeyName))

  private def keyMatches(key: Array[Byte]): Boolean = {
    val v = BytesCodec.decodeKey(dtByName(rowkeyName), key)
    filters.forall(FilterEval.eval(_, _ => v, dtByName))
  }

  /** Every record of the shard matches the pushed filters, so the
    * manifest's whole-shard COUNT/MIN/MAX is the shard's answer. */
  private def wholeShard(shard: KvShardMeta): Boolean =
    filters.isEmpty ||
      (rowkeyInterval && keyMatches(shard.minKey) && keyMatches(shard.maxKey))

  /** The manifest's answer for a global aggregate over `shard`, when it
    * holds one for every spec; None = scan the shard. The decision is
    * PER SHARD, so one legacy shard missing a bound only costs that
    * shard a scan. */
  private def manifestAnswer(shard: KvShardMeta): Option[Seq[Any]] =
    if (groupCols.nonEmpty || !wholeShard(shard)) None
    else {
      val vals = specs.map(manifestValue(shard, _))
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    }

  /** Fold one shard's manifest answer into the global state. */
  private def foldManifest(st: GroupState, vals: Seq[Any]): Unit =
    specs.zip(vals).foreach {
      case (KvCountStar, v) => st.countStar += v.asInstanceOf[Long]
      case (KvMinCol(n), v) =>
        val i = mmPos(n)
        if (st.mins(i) == null || mmOrd(i).lt(v, st.mins(i))) st.mins(i) = v
      case (KvMaxCol(n), v) =>
        val i = mmPos(n)
        if (st.maxs(i) == null || mmOrd(i).gt(v, st.maxs(i))) st.maxs(i) = v
      case (other, _) => throw new IllegalStateException(s"no manifest answer for $other")
    }

  /** Decode every record of `part` in its clipped ranges, calling
    * `onMatch` for each that passes the pushed filters. */
  private def scan(part: KvInputPartition)(onMatch: => Unit): Unit = {
    openReader = new KvStore.ShardReader(dir, part.shard,
      wanted = decoder.wantedCell, ranges = part.decodedRanges)
    try {
      while (openReader.hasNext) {
        decoder.decodeInto(openReader.next())
        recordsRead += 1
        if (pred()) onMatch
      }
    } finally closeReader()
  }

  private def groupKey(): Array[Any] = {
    val k = new Array[Any](groupIdx.length)
    var i = 0
    while (i < groupIdx.length) { k(i) = decoder.scratch(groupIdx(i)); i += 1 }
    k
  }

  /** The whole computation as an iterator of output rows. Ungrouped →
    * exactly one row. Partial mode, GROUP BY the rowkey → true streaming
    * (groups are contiguous in a key-sorted shard; each closes as the
    * key changes). Other groupings → one hash map over every shard the
    * reader holds, emitted after the scan. */
  private def compute(): Iterator[InternalRow] = {
    // a bloom-excluded shard contributes no rows, hence no partials
    val live = parts.filter(p => KvBloomPrune.canMatch(dir, p.shard, filters, declared))
    skippedBloom = (parts.length - live.length).toLong
    if (live.isEmpty && !folded) return Iterator.empty

    if (groupCols.isEmpty) {
      val st = newState()
      live.foreach { p =>
        manifestAnswer(p.shard) match {
          case Some(vals) => foldManifest(st, vals)
          case None       => scan(p)(accumulate(st))
        }
      }
      Iterator.single(resultRow(Array.empty, st))
    } else if (!folded && groupCols == Seq(rowkeyName)) {
      // key-sorted shard + rowkey grouping: equal keys are adjacent, so
      // each group closes (and its row is served) the moment the key
      // changes — O(1) state regardless of group count
      val reader = new KvStore.ShardReader(dir, live.head.shard,
        wanted = decoder.wantedCell, ranges = live.head.decodedRanges)
      openReader = reader
      new Iterator[InternalRow] {
        private var openKey: Array[Any] = _
        private var st: GroupState = _
        private var pending: InternalRow = _
        private var done = false
        private def advance(): Unit = {
          while (pending == null && !done) {
            if (!reader.hasNext) {
              done = true
              closeReader()
              if (st != null) { pending = resultRow(openKey, st); st = null }
            } else {
              decoder.decodeInto(reader.next())
              recordsRead += 1
              if (pred()) {
                val k = decoder.scratch(groupIdx(0))
                if (st == null) {
                  openKey = Array[Any](k)
                  st = newState()
                } else if (k != openKey(0)) {
                  pending = resultRow(openKey, st)
                  openKey = Array[Any](k)
                  st = newState()
                }
                accumulate(st)
              }
            }
          }
        }
        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          val r = pending; pending = null; r
        }
      }
    } else {
      // hash grouping across every held shard. Key values come out of
      // the decoder freshly allocated, so storing references is safe;
      // ArraySeq gives element-wise equality incl. nulls (SQL group-by
      // null semantics: nulls form one group).
      val groups = new java.util.LinkedHashMap[Seq[Any], GroupState]()
      live.foreach { p =>
        scan(p) {
          val key: Seq[Any] = scala.collection.immutable.ArraySeq.unsafeWrapArray(groupKey())
          var st = groups.get(key)
          if (st == null) {
            st = newState()
            groups.put(key, st)
          }
          accumulate(st)
        }
      }
      val it = groups.entrySet().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = {
          val e = it.next()
          resultRow(e.getKey.toArray, e.getValue)
        }
      }
    }
  }

  private var openReader: KvStore.ShardReader = _
  private def closeReader(): Unit = if (openReader != null) {
    bytesRead += openReader.bytesRead
    openReader.close()
    openReader = null
  }

  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows == null) rows = compute()
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = closeReader()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    KvScanMetrics.taskMetric("kvRecordsRead", recordsRead),
    KvScanMetrics.taskMetric("kvBytesRead", bytesRead),
    KvScanMetrics.taskMetric("kvShardsSkippedBloom", skippedBloom))
}
