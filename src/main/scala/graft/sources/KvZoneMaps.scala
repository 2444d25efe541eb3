package graft.sources

import graft.kv.{KvCatalog, KvShardMeta, KvStore}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-shard zone maps over cell VALUES — the non-rowkey complement to
  * rowkey-range shard pruning (parquet row-group statistics,
  * re-expressed over the shard manifest; the reference prunes nothing,
  * its TODO covered only the rowkey).
  *
  * Bounds are stored in the order-preserving KEY encoding (see
  * [[graft.kv.KvShardMeta]] scaladoc): writers track them with plain
  * byte comparisons, compaction merges them without needing the schema,
  * and the scan decodes them to typed bounds here.
  *
  * Soundness notes, per type:
  *  - missing cell ≡ SQL NULL: every comparison predicate is false on
  *    null, so pruning a shard whose non-null bounds exclude the
  *    literal can never drop a matching row;
  *  - doubles/floats: -0.0 normalizes to 0.0 in the key encoding and
  *    the comparison treats them equal (SQL semantics); NaN encodes
  *    above +∞ and compares greater than everything on both sides;
  *  - timestamps: the key encoding floors micros to millis, so the
  *    decoded MAX is widened by 999 µs (ceiling of its milli bucket) —
  *    the min is already a valid lower bound;
  *  - a column absent from a shard's map (all-null chunk, oversized
  *    bound, unsupported type, or a pre-zone-map manifest) is never
  *    pruned on.
  */
object KvZoneMaps {

  /** Bounds above this many encoded bytes are not recorded (a manifest
    * should not carry giant string extremes). */
  val MaxBoundBytes = 64

  /** Types with BOTH an order-preserving key encoding and pushable
    * comparison filters. Binary stays out (binary predicates are never
    * pushed); decimal/interval/nested have no key encoding. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | BooleanType | StringType | DateType | TimestampType => true
    case _ => false
  }

  private def decodeBound(dt: DataType, hex: String, isMax: Boolean): Any = {
    val v = graft.kv.BytesCodec.decodeKey(dt, KvStore.fromHex(hex))
    dt match {
      case TimestampType if isMax => v.asInstanceOf[Long] + 999L
      case _ => v
    }
  }

  /** Compile conjunctive pushed filters into shard-keep predicates.
    * Only conjuncts prune (an `Or` might match through either branch);
    * anything unresolvable keeps the shard. */
  def keepFns(filters: Array[Filter],
              declared: StructType): Array[KvShardMeta => Boolean] = {
    val byName = declared.fields.map(f => f.name -> f).toMap

    def boundsTest(a: String, v: Any,
                   test: (Int, Int) => Boolean): Option[KvShardMeta => Boolean] =
      byName.get(a).flatMap { fld =>
        val dt = fld.dataType
        if (!supported(dt) ||
            fld.metadata.getString("columnFamily") == KvCatalog.RowkeyCf) None
        else FilterEval.cmpToLiteral(dt, FilterEval.canon(dt, v)).map { c =>
          val key = s"${fld.metadata.getString("columnFamily")}:${fld.metadata.getString("column")}"
          (s: KvShardMeta) => s.stats.get(key) match {
            case None => true
            case Some((mnHex, mxHex)) =>
              test(c(decodeBound(dt, mnHex, isMax = false)),
                   c(decodeBound(dt, mxHex, isMax = true)))
          }
        }
      }

    def compile(f: Filter): Seq[KvShardMeta => Boolean] = f match {
      case EqualTo(a, v) => boundsTest(a, v, (mn, mx) => mn <= 0 && mx >= 0).toSeq
      // bounds cover only NON-NULL values, and a <=> v with non-null v
      // matches only non-null a — excluded bounds exclude the match
      // (v null ≡ IsNull: bounds say nothing about null presence)
      case EqualNullSafe(a, v) if v != null =>
        boundsTest(a, v, (mn, mx) => mn <= 0 && mx >= 0).toSeq
      case LessThan(a, v) => boundsTest(a, v, (mn, _) => mn < 0).toSeq
      case LessThanOrEqual(a, v) => boundsTest(a, v, (mn, _) => mn <= 0).toSeq
      case GreaterThan(a, v) => boundsTest(a, v, (_, mx) => mx > 0).toSeq
      case GreaterThanOrEqual(a, v) => boundsTest(a, v, (_, mx) => mx >= 0).toSeq
      case In(a, vs) if vs.nonEmpty =>
        val tests = vs.toSeq.flatMap(v => boundsTest(a, v, (mn, mx) => mn <= 0 && mx >= 0))
        // prunable only if EVERY literal compiled (else an unresolved
        // literal might match inside the bounds)
        if (tests.length == vs.length)
          Seq((s: KvShardMeta) => tests.exists(_(s)))
        else Nil
      // prefix window: matches live in [p, successor(p)) — keep iff
      // shardMax >= p and (no successor | shardMin < successor). The
      // successor may not be valid UTF-8; UTF8String.fromBytes carries
      // raw bytes and the comparison is binary, so the bound is sound.
      case StringStartsWith(a, p) if p.nonEmpty =>
        val lo = boundsTest(a, p, (_, mx) => mx >= 0)
        val hi = graft.kv.BytesCodec.prefixSuccessor(
            org.apache.spark.unsafe.types.UTF8String.fromString(p).getBytes)
          .flatMap(sb => boundsTest(a,
            org.apache.spark.unsafe.types.UTF8String.fromBytes(sb),
            (mn, _) => mn < 0))
        (lo, hi) match {
          case (Some(l), Some(h)) => Seq((s: KvShardMeta) => l(s) && h(s))
          case (Some(l), None)    => Seq(l)
          case _                  => Nil
        }
      case And(l, r) => compile(l) ++ compile(r)
      case _ => Nil // Or / IsNull / Contains / … : no zone-map pruning
    }

    filters.flatMap(compile)
  }

  def prune(shards: Seq[KvShardMeta], filters: Array[Filter],
            declared: StructType): Seq[KvShardMeta] = {
    val keeps = keepFns(filters, declared)
    if (keeps.isEmpty) shards else shards.filter(s => keeps.forall(_(s)))
  }

  /** Recomputes per-column zone-map stats from RAW records during a
    * maintenance rewrite (DELETE/UPDATE). The write path tracks bounds
    * from typed row values ([[KvWriter]]); a rewrite only has encoded
    * cells, so this decodes each tracked cell and re-encodes it in the
    * order-preserving key encoding — identical bounds to a fresh write
    * of the surviving rows. Carrying the ORIGINAL shard's stats instead
    * would stay sound for pruning (a superset range) but is served as
    * EXACT min/max by the aggregate-pushdown manifest fast path
    * ([[KvAggScan]]), which would resurrect deleted extremes. */
  final class StatsTracker(declared: StructType) {
    private final class Col(val dt: DataType) {
      var min: Array[Byte] = null
      var max: Array[Byte] = null
      var poisoned = false
    }
    private val tracked = declared.fields.filter { f =>
      supported(f.dataType) &&
      f.metadata.getString("columnFamily") != KvCatalog.RowkeyCf
    }
    private val trackedCf = tracked.map(_.metadata.getString("columnFamily"))
    private val trackedQual = tracked.map(_.metadata.getString("column"))
    private val cols: Array[Col] = tracked.map(f => new Col(f.dataType))

    // cells resolve to their tracked column by reference, not by
    // building a "cf:qualifier" key per cell
    private val slot = new KvCellSlots(trackedCf, trackedQual)

    def observe(rec: graft.kv.KvRecord): Unit =
      rec.cells.foreach { c =>
        val k = slot(c.cf, c.qualifier)
        if (k >= 0 && !cols(k).poisoned) {
          val col = cols(k)
          val enc = graft.kv.BytesCodec.encodeKey(col.dt,
            graft.kv.BytesCodec.decode(col.dt, c.value))
          if (enc.length > MaxBoundBytes) {
            col.poisoned = true; col.min = null; col.max = null
          } else {
            if (col.min == null || graft.kv.BytesCodec.compareKeys(enc, col.min) < 0)
              col.min = enc
            if (col.max == null || graft.kv.BytesCodec.compareKeys(enc, col.max) > 0)
              col.max = enc
          }
        }
      }

    def result(): Map[String, (String, String)] = cols.indices.iterator.collect {
      case k if !cols(k).poisoned && cols(k).min != null =>
        s"${trackedCf(k)}:${trackedQual(k)}" ->
          (KvStore.toHex(cols(k).min), KvStore.toHex(cols(k).max))
    }.toMap
  }
}
