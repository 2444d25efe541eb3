package graft.sources

import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized KV read path: decodes shard records into reused on-heap
  * column vectors, `capacity` rows per [[ColumnarBatch]].
  *
  * The reference reads row-at-a-time through the HBase client
  * (`HbasePartitionReader.scala` — one `Result` per `next()`); a Spark
  * rebuild can do better because downstream operators consume batches
  * through codegen'd `ColumnarToRow`, so full-shard scans avoid one
  * `InternalRow` allocation per record and keep the decode loop tight.
  * Behind the `columnar` option (default on); forward scans over every
  * catalog cell type including nested array<float>/map<string,string>
  * (child-column + putArray offsets) — the DESC-tail ring buffer and
  * calendar-interval columns stay on the row reader
  * ([[KvPartitionReader]]).
  */
object KvColumnarReader {
  val DefaultCapacity = 4096

  /** Columnar-eligible = every projected column has a vector writer
    * below — all the catalog's cell types including the nested ones
    * (array<float> embeddings, map<string,string> props), which write
    * through the vector's child columns + putArray offsets (r17; they
    * previously forced the whole scan onto the row path, so the
    * embedding/multimodal tables never batched) and calendar-interval
    * (r19; writes the vector's three struct children — months, days,
    * micros — the same layout `ColumnVector.getInterval` reads). */
  def eligible(pruned: StructType): Boolean = pruned.fields.forall { f =>
    f.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | DateType | TimestampType |
          StringType | BinaryType | CalendarIntervalType => true
      case d: DecimalType if d.precision <= 18 => true
      case ArrayType(FloatType, _) => true
      case MapType(StringType, StringType, _) => true
      case _ => false
    }
  }

  /** One writer per column, resolved once: (vector, slot, decoded
    * internal value) → vector write. Values arrive in Catalyst-internal
    * form (UTF8String / days-int / micros-long / Decimal) from
    * [[graft.kv.BytesCodec.decode]]. */
  private[sources] def writerFor(dt: DataType): (WritableColumnVector, Int, Any) => Unit =
    dt match {
      case BooleanType => (v, i, x) => v.putBoolean(i, x.asInstanceOf[Boolean])
      case ByteType    => (v, i, x) => v.putByte(i, x.asInstanceOf[Byte])
      case ShortType   => (v, i, x) => v.putShort(i, x.asInstanceOf[Short])
      case IntegerType | DateType => (v, i, x) => v.putInt(i, x.asInstanceOf[Int])
      case LongType | TimestampType => (v, i, x) => v.putLong(i, x.asInstanceOf[Long])
      case FloatType   => (v, i, x) => v.putFloat(i, x.asInstanceOf[Float])
      case DoubleType  => (v, i, x) => v.putDouble(i, x.asInstanceOf[Double])
      case StringType  => (v, i, x) => {
        val b = x.asInstanceOf[UTF8String].getBytes
        v.putByteArray(i, b, 0, b.length)
      }
      case BinaryType  => (v, i, x) => {
        val b = x.asInstanceOf[Array[Byte]]
        v.putByteArray(i, b, 0, b.length)
      }
      case d: DecimalType =>
        (v, i, x) => v.putDecimal(i, x.asInstanceOf[Decimal], d.precision)
      case ArrayType(FloatType, _) => (v, i, x) => {
        val a = x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val n = a.numElements()
        val child = v.arrayData()
        val start = child.getElementsAppended
        var k = 0
        while (k < n) { child.appendFloat(a.getFloat(k)); k += 1 }
        v.putArray(i, start, n)
      }
      case MapType(StringType, StringType, _) => (v, i, x) => {
        val m = x.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val n = m.numElements()
        val keys = v.getChild(0); val vals = v.getChild(1)
        val start = keys.getElementsAppended
        var k = 0
        while (k < n) {
          val kb = m.keyArray().getUTF8String(k).getBytes
          val vb = m.valueArray().getUTF8String(k).getBytes
          keys.appendByteArray(kb, 0, kb.length)
          vals.appendByteArray(vb, 0, vb.length)
          k += 1
        }
        v.putArray(i, start, n)
      }
      case CalendarIntervalType => (v, i, x) => {
        val ci = x.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
        v.getChild(0).putInt(i, ci.months)
        v.getChild(1).putInt(i, ci.days)
        v.getChild(2).putLong(i, ci.microseconds)
      }
      case other => throw new IllegalArgumentException(
        s"not columnar-eligible: $other") // guarded by eligible()
    }

  /** Zero-copy writer per column: decode the stored cell encoding
    * (graft.kv.BytesCodec `encode`) straight from the shard reader's
    * buffer slice into the vector — no intermediate value object at
    * all. Strings/binary copy ONCE, buffer → vector byte store. */
  private[sources] def directWriterFor(dt: DataType)
      : (WritableColumnVector, Int, Array[Byte], Int, Int) => Unit = {
    import graft.kv.BytesCodec._
    dt match {
      case BooleanType => (v, i, b, off, _) => v.putBoolean(i, b(off) != 0)
      case ByteType    => (v, i, b, off, _) => v.putByte(i, b(off))
      case ShortType   => (v, i, b, off, _) => v.putShort(i, shortAt(b, off))
      case IntegerType => (v, i, b, off, _) => v.putInt(i, intAt(b, off))
      case LongType    => (v, i, b, off, _) => v.putLong(i, longAt(b, off))
      case FloatType   => (v, i, b, off, _) =>
        v.putFloat(i, java.lang.Float.intBitsToFloat(intAt(b, off)))
      case DoubleType  => (v, i, b, off, _) =>
        v.putDouble(i, java.lang.Double.longBitsToDouble(longAt(b, off)))
      case DateType    => (v, i, b, off, _) =>
        v.putInt(i, (longAt(b, off) / 86400000L).toInt) // stored millis → days
      case TimestampType => (v, i, b, off, _) =>
        v.putLong(i, Math.multiplyExact(longAt(b, off), 1000L)) // millis → micros
      case StringType | BinaryType =>
        (v, i, b, off, len) => v.putByteArray(i, b, off, len)
      case d: DecimalType if d.precision <= 18 =>
        (v, i, b, off, _) =>
          v.putDecimal(i, Decimal(longAt(b, off), d.precision, d.scale), d.precision)
      // nested cells parse the stored layout (BytesCodec.encode) straight
      // into the vector's child columns — still no intermediate
      // ArrayData/MapData object on the zero-copy path
      case ArrayType(FloatType, _) => (v, i, b, off, _) => {
        val n = intAt(b, off)
        val child = v.arrayData()
        val start = child.getElementsAppended
        var k = 0
        while (k < n) {
          child.appendFloat(java.lang.Float.intBitsToFloat(intAt(b, off + 4 + 4 * k)))
          k += 1
        }
        v.putArray(i, start, n)
      }
      case MapType(StringType, StringType, _) => (v, i, b, off, _) => {
        val n = intAt(b, off)
        val keys = v.getChild(0); val vals = v.getChild(1)
        val start = keys.getElementsAppended
        var p = off + 4
        var k = 0
        while (k < n) {
          val kl = intAt(b, p); p += 4
          keys.appendByteArray(b, p, kl); p += kl
          val vl = intAt(b, p); p += 4
          vals.appendByteArray(b, p, vl); p += vl
          k += 1
        }
        v.putArray(i, start, n)
      }
      case CalendarIntervalType => (v, i, b, off, _) => {
        // stored layout (BytesCodec.encode): months int, days int, micros long
        v.getChild(0).putInt(i, intAt(b, off))
        v.getChild(1).putInt(i, intAt(b, off + 4))
        v.getChild(2).putLong(i, longAt(b, off + 8))
      }
      case other => throw new IllegalArgumentException(
        s"not columnar-eligible: $other") // guarded by eligible()
    }
  }
}

class KvColumnarReader(dir: String, part: KvInputPartition,
                       pruned: StructType, declared: StructType,
                       rowkeyName: String, filters: Array[Filter], limit: Int,
                       reverse: Boolean = false,
                       capacity: Int = KvColumnarReader.DefaultCapacity)
    extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  // Full unclipped scans with no pushed filters take the ZERO-COPY fast
  // path: cell bytes decode straight from the shard reader's internal
  // buffer into the column vectors — no KvCell allocation, no per-value
  // byte copy, no Any-boxing through the scratch array. That per-record
  // object churn was the whole gap between the A/B probes reading ~1.0×
  // (the batch only saved the final InternalRow allocation). Filtered or
  // clipped scans keep the decoder path: predicates evaluate on decoded
  // scratch values. A DESC tail always carries a pushed limit, so it
  // can never take the fast path.
  private val fastPath = filters.isEmpty && limit < 0 && part.isFullRange

  // same needed-column resolution as the row reader: pruned ∪ filter refs
  private val decoder = new KvRecordDecoder(declared,
    pruned.fieldNames.toSet ++ filters.flatMap(_.references))
  private val reader = new graft.kv.KvStore.ShardReader(dir, part.shard,
    wanted = decoder.wantedCell, ranges = part.decodedRanges,
    lazyStart = fastPath)
  private val prunedFromNeeded: Array[Int] = pruned.fieldNames.map(decoder.idxByName)
  private val writers = pruned.fields.map(f => KvColumnarReader.writerFor(f.dataType))
  private val pred = FilterEval.compile(filters, decoder.idxByName, decoder.dtByName,
    decoder.scratch)

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, pruned)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private var served = 0L
  private var recordsRead = 0L // pre-filter: every record decoded

  // ---- zero-copy visitor (fast path only) ----
  private object visitor extends graft.kv.KvStore.CellVisitor {
    // declared metadata per pruned column, resolved once
    private val cfs = pruned.fields.map { f =>
      declared.fields.find(_.name == f.name).get.metadata.getString("columnFamily")
    }
    private val quals = pruned.fields.map { f =>
      declared.fields.find(_.name == f.name).get.metadata.getString("column")
    }
    private val isRowkey: Array[Boolean] = cfs.map(_ == graft.kv.KvCatalog.RowkeyCf)
    private val keyCols: Array[Int] = pruned.fields.indices.filter(isRowkey).toArray
    private val direct = pruned.fields.map(f =>
      KvColumnarReader.directWriterFor(f.dataType))
    private val keyWriters = keyCols.map { k =>
      val w = KvColumnarReader.writerFor(pruned.fields(k).dataType)
      val dt = pruned.fields(k).dataType
      (key: Array[Byte], slot: Int) => w(vectors(k), slot, graft.kv.BytesCodec.decodeKey(dt, key))
    }
    private val colIdx = new KvCellSlots(cfs, quals)

    var slot = 0
    private val lastSet = new Array[Int](pruned.length)
    private var gen = 0

    override def startRecord(key: Array[Byte]): Unit = {
      gen += 1
      var i = 0
      while (i < keyCols.length) {
        keyWriters(i)(key, slot)
        lastSet(keyCols(i)) = gen
        i += 1
      }
    }
    override def cell(cf: String, q: String, buf: Array[Byte], off: Int, len: Int): Unit = {
      val j = colIdx(cf, q)
      // first cell wins — identical to the row decoder's semantics
      if (j >= 0 && lastSet(j) != gen) {
        direct(j)(vectors(j), slot, buf, off, len)
        lastSet(j) = gen
      }
    }
    override def endRecord(): Unit = {
      var j = 0
      while (j < lastSet.length) {
        if (lastSet(j) != gen) vectors(j).putNull(slot)
        j += 1
      }
      slot += 1
    }
  }

  // ---- reverse (DESC tail) mode — the columnar twin of the row
  // reader's ring buffer (r19; reverse scans previously fell back to
  // the row path wholesale). One forward pass retains the last `limit`
  // matches' PROJECTED values (decodeInto yields fresh value objects
  // per record, so holding the references is sound — the row reader's
  // ring relies on the same property), then batches serve newest-first
  // through the regular vector writers. ----
  private var tail: Array[Array[Any]] = _
  private var tailMatches = 0L

  private def fillTail(): Unit = {
    tail = new Array[Array[Any]](limit)
    while (reader.hasNext) {
      decoder.decodeInto(reader.next())
      recordsRead += 1
      if (pred()) {
        val values = new Array[Any](pruned.length)
        var k = 0
        while (k < values.length) {
          values(k) = decoder.scratch(prunedFromNeeded(k))
          k += 1
        }
        tail((tailMatches % limit).toInt) = values
        tailMatches += 1
      }
    }
  }

  override def next(): Boolean = {
    if (limit >= 0 && served >= limit) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    if (reverse && limit > 0) {
      if (tail == null) fillTail()
      val avail = math.min(tailMatches, limit.toLong)
      while (n < capacity && served < avail) {
        val values = tail(((tailMatches - 1L - served) % limit).toInt)
        var k = 0
        while (k < writers.length) {
          val x = values(k)
          if (x == null) vectors(k).putNull(n) else writers(k)(vectors(k), n, x)
          k += 1
        }
        n += 1
        served += 1
      }
      return if (n == 0) false else { batch.setNumRows(n); true }
    }
    if (fastPath) {
      visitor.slot = 0
      while (n < capacity && reader.visitNext(visitor)) n += 1
      recordsRead += n
    } else {
      while (n < capacity && (limit < 0 || served < limit) && reader.hasNext) {
        decoder.decodeInto(reader.next())
        recordsRead += 1
        if (pred()) {
          var k = 0
          while (k < writers.length) {
            val x = decoder.scratch(prunedFromNeeded(k))
            if (x == null) vectors(k).putNull(n) else writers(k)(vectors(k), n, x)
            k += 1
          }
          n += 1
          served += 1
        }
      }
    }
    if (n == 0) false
    else { batch.setNumRows(n); true }
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    reader.close()
    batch.close()
  }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    KvScanMetrics.taskMetric("kvRecordsRead", recordsRead),
    KvScanMetrics.taskMetric("kvBytesRead", reader.bytesRead))
}
