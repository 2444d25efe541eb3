package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Evaluation of pushed v1 `sources.Filter`s against DECODED values.
  *
  * The reference translates pushed filters into HBase byte comparators
  * (`BinaryComparator` on big-endian bytes,
  * `/root/reference/src/main/scala/com/dm/hbase/spark3/datasource/HbasePartitionReader.scala:145-174`),
  * which orders negative longs/doubles incorrectly (SURVEY.md §4b). This
  * engine deliberately diverges: predicates run on decoded values with
  * proper numeric/string ordering, so pushdown can never change results.
  *
  * Null semantics preserved from the reference: a missing cell IS null —
  * `IsNull` matches missing cells (`setFilterIfMissing(false)`,
  * `HbasePartitionReader.scala:156-160`); every other comparison on a
  * missing cell is false.
  */
object FilterEval {

  /** Types whose decoded values this evaluator can order/compare.
    * Binary/array/map columns stay residual (Spark evaluates above the
    * scan) — claiming them and silently failing the comparison would be
    * a correctness bug, not a missing optimization. */
  def comparable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType | TimestampType => true
    case _ => false
  }

  /** Which filters this source accepts — the reference's 12-class set
    * (`HbaseScanBuilder.scala:34-45`) with RECURSIVE And/Or pushability
    * (the reference pushes And/Or wholesale and can hit an executor
    * MatchError on unsupported children; SURVEY.md §2.2 "bug to avoid"),
    * PLUS StringEndsWith / Not / EqualNullSafe. The reference could not
    * push those three because HBase byte comparators can't express them
    * (`HbaseScanBuilder.scala:46`); this engine evaluates DECODED values,
    * where a suffix test and a null-safe compare are trivial — leaving
    * them residual would cost full-row materialization above the scan.
    * `Not` requires genuine three-valued child evaluation (NOT over an
    * UNKNOWN comparison stays UNKNOWN, it does not become true) — see
    * [[eval3]]. */
  def pushable(f: Filter, dts: Map[String, DataType]): Boolean = {
    def ok(a: String): Boolean = dts.get(a).exists(comparable)
    f match {
      case EqualTo(a, _)            => ok(a)
      case EqualNullSafe(a, v)      => if (v == null) dts.contains(a) else ok(a)
      case LessThan(a, _)           => ok(a)
      case LessThanOrEqual(a, _)    => ok(a)
      case GreaterThan(a, _)        => ok(a)
      case GreaterThanOrEqual(a, _) => ok(a)
      case In(a, _)                 => ok(a)
      case IsNull(a)                => dts.contains(a) // null-ness needs no ordering
      case IsNotNull(a)             => dts.contains(a)
      case StringStartsWith(a, _)   => dts.get(a).contains(StringType)
      case StringContains(a, _)     => dts.get(a).contains(StringType)
      case StringEndsWith(a, _)     => dts.get(a).contains(StringType)
      case And(l, r)                => pushable(l, dts) && pushable(r, dts)
      case Or(l, r)                 => pushable(l, dts) && pushable(r, dts)
      case Not(c)                   => pushable(c, dts)
      case AlwaysTrue() | AlwaysFalse() => true
      case _                        => false
    }
  }

  /** Does `f` read only column `col` and match one interval of its
    * values? Comparisons, equality, prefix match, `IS NOT NULL` and
    * conjunctions of them qualify; `IN`, `OR` and `NOT`, which can leave
    * holes, do not. Under such a filter, two matching values imply that
    * every value between them matches too. */
  def oneInterval(f: Filter, col: String): Boolean = f match {
    case EqualTo(a, _)                  => a == col
    case EqualNullSafe(a, v)            => a == col && v != null
    case LessThan(a, _)                 => a == col
    case LessThanOrEqual(a, _)          => a == col
    case GreaterThan(a, _)              => a == col
    case GreaterThanOrEqual(a, _)       => a == col
    case IsNotNull(a)                   => a == col
    case StringStartsWith(a, _)         => a == col
    case And(l, r)                      => oneInterval(l, col) && oneInterval(r, col)
    case AlwaysTrue()                   => true
    case _                              => false
  }

  /** Canonicalize an external literal to the internal-comparable domain
    * of `dt` (micros for timestamps, days for dates, UTF8String for
    * strings — Spark orders strings by UTF-8 BINARY bytes, and UTF-16
    * `String.compareTo` disagrees for supplementary-plane vs
    * U+E000..U+FFFF characters; pushed filters are reported handled, so
    * any divergence here would silently change results). */
  def canon(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (TimestampType, t: java.sql.Timestamp) =>
      // getTime already includes the millis of the fractional second;
      // add only the sub-milli micros (floor-safe for pre-epoch values)
      Math.addExact(Math.multiplyExact(t.getTime, 1000L),
        (t.getNanos / 1000L) % 1000L)
    case (TimestampType, i: java.time.Instant) =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (DateType, d: java.time.LocalDate) => d.toEpochDay.toInt
    case (StringType, s: UTF8String) => s
    case (StringType, s: String) => UTF8String.fromString(s)
    case (_: DecimalType, d: java.math.BigDecimal) => d
    case (_: DecimalType, d: scala.math.BigDecimal) => d.bigDecimal
    case (_, other) => other
  }

  /** Internal value → comparable domain (identity: UTF8String stays
    * UTF8String for binary-order comparison; timestamps/dates are
    * already micros/days). */
  def internalComparable(dt: DataType, v: Any): Any = v

  /** Spark SQL double semantics: -0.0 = 0.0 (Double.compare would order
    * them) while NaN = NaN and NaN > everything (which Double.compare
    * already provides). */
  private def sqlDoubleCompare(x: Double, y: Double): Int = {
    val c = java.lang.Double.compare(x, y)
    if (c != 0 && x == y) 0 else c
  }

  private def cmp(dt: DataType, a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: Long, y: Number)   => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Int, y: Number)    => Some(java.lang.Long.compare(x.toLong, y.longValue()))
    case (x: Short, y: Number)  => Some(java.lang.Long.compare(x.toLong, y.longValue()))
    case (x: Byte, y: Number)   => Some(java.lang.Long.compare(x.toLong, y.longValue()))
    case (x: Double, y: Number) => Some(sqlDoubleCompare(x, y.doubleValue()))
    case (x: Float, y: Number)  => Some(sqlDoubleCompare(x.toDouble, y.doubleValue()))
    // UTF-8 byte order == code-point order; matches Spark's UTF8String
    // ordering for the full Unicode range (String.compareTo would not)
    case (x: UTF8String, y: UTF8String) => Some(x.binaryCompare(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: org.apache.spark.sql.types.Decimal, y: java.math.BigDecimal) =>
      Some(x.toJavaBigDecimal.compareTo(y))
    case _ => None
  }

  /** Evaluate a pushed filter; `get(name)` returns the decoded internal
    * value (null ≡ missing cell), `dtOf(name)` its declared type. A
    * filter keeps the row iff the SQL predicate is TRUE — UNKNOWN
    * (null-involving) collapses to false at this top level, exactly as
    * Spark's own Filter operator drops UNKNOWN rows. */
  def eval(f: Filter, get: String => Any, dtOf: String => DataType): Boolean =
    eval3(f, get, dtOf) == True3

  // SQL three-valued logic domain. Collapsing UNKNOWN→false is only
  // sound OUTSIDE a NOT: Kleene AND/OR of collapsed children collapses
  // to the same top-level answer, but NOT(UNKNOWN) is UNKNOWN (row
  // dropped) while !false would keep it — so evaluation under Not must
  // carry all three values.
  private[sources] final val True3: Byte = 1
  private[sources] final val False3: Byte = 0
  private[sources] final val Unknown3: Byte = -1
  @inline private def bool3(b: Boolean): Byte = if (b) True3 else False3
  @inline private def not3(v: Byte): Byte =
    if (v == True3) False3 else if (v == False3) True3 else Unknown3
  @inline private def and3(a: Byte, b: Byte): Byte =
    if (a == False3 || b == False3) False3
    else if (a == Unknown3 || b == Unknown3) Unknown3
    else True3
  @inline private def or3(a: Byte, b: Byte): Byte =
    if (a == True3 || b == True3) True3
    else if (a == Unknown3 || b == Unknown3) Unknown3
    else False3

  /** Three-valued evaluation (interpreted path — runtime re-pruning and
    * tests; the per-record hot path is [[compile]]). A comparison with a
    * null operand or null literal is UNKNOWN, not false. */
  private def eval3(f: Filter, get: String => Any, dtOf: String => DataType): Byte = {
    def rel(a: String, v: Any, test: Int => Boolean): Byte = {
      val dt = dtOf(a)
      val x = internalComparable(dt, get(a))
      val c = canon(dt, v)
      if (x == null || c == null) Unknown3
      else cmp(dt, x, c).map(r => bool3(test(r))).getOrElse(Unknown3)
    }
    def str(a: String, test: UTF8String => Boolean): Byte = get(a) match {
      case s: UTF8String => bool3(test(s))
      case null => Unknown3
      case _ => False3
    }
    f match {
      case EqualTo(a, v)            => rel(a, v, _ == 0)
      case LessThan(a, v)           => rel(a, v, _ < 0)
      case LessThanOrEqual(a, v)    => rel(a, v, _ <= 0)
      case GreaterThan(a, v)        => rel(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => rel(a, v, _ >= 0)
      case EqualNullSafe(a, v) =>
        // never UNKNOWN: <=> treats null as an ordinary value
        val dt = dtOf(a)
        val x = internalComparable(dt, get(a))
        val c = canon(dt, v)
        if (x == null || c == null) bool3(x == null && c == null)
        else bool3(cmp(dt, x, c).contains(0))
      case In(a, vs) =>
        val dt = dtOf(a); val x = internalComparable(dt, get(a))
        if (x == null) Unknown3
        else if (vs.exists(v => v != null && cmp(dt, x, canon(dt, v)).contains(0))) True3
        // no match, but a null literal makes the IN result UNKNOWN —
        // NOT IN (… NULL) must never become true
        else if (vs.contains(null)) Unknown3
        else False3
      case IsNull(a)    => bool3(get(a) == null)
      case IsNotNull(a) => bool3(get(a) != null)
      case StringStartsWith(a, p) =>
        // UTF8String byte-prefix semantics — identical to Spark's own
        // StartsWith expression (and to the compiled path); UTF-16
        // String.startsWith would diverge on unpaired surrogates
        str(a, _.startsWith(UTF8String.fromString(p)))
      case StringContains(a, p) => str(a, _.contains(UTF8String.fromString(p)))
      case StringEndsWith(a, p) => str(a, _.endsWith(UTF8String.fromString(p)))
      case And(l, r) => and3(eval3(l, get, dtOf), eval3(r, get, dtOf))
      case Or(l, r)  => or3(eval3(l, get, dtOf), eval3(r, get, dtOf))
      case Not(c)    => not3(eval3(c, get, dtOf))
      case AlwaysTrue()  => True3
      case AlwaysFalse() => False3
      case other => throw new IllegalStateException(s"unpushable filter reached reader: $other")
    }
  }

  // ---- compiled predicates (the scan's per-record hot path) ----

  /** Compile pushed filters into one closure over the decoder's scratch
    * array. Same semantics as [[eval]], but everything resolvable once
    * per partition — column index, literal canonicalization, the typed
    * comparison — is resolved at compile time, so the per-record work is
    * an index load plus a primitive compare: no filter-tree walk, no
    * name→type map lookups, no Option allocation per row. At full-scan
    * scale (100 TB ≙ billions of records/executor-day) the interpreted
    * walk is the scan bottleneck after decode itself. */
  def compile(filters: Array[Filter], idxOf: String => Int,
              dtOf: String => DataType, scratch: Array[Any]): () => Boolean = {
    val ps = filters.map(compileOne(_, idxOf, dtOf, scratch))
    () => {
      var i = 0
      var ok = true
      while (ok && i < ps.length) { ok = ps(i)(); i += 1 }
      ok
    }
  }

  private val alwaysFalse: () => Boolean = () => false

  /** Typed comparator for decoded values of `dt` against a canon'd
    * literal, mirroring [[cmp]]'s cross-type Number semantics. None =
    * the literal can never compare (wrong type / null) — the caller
    * folds that to constant-false exactly as [[cmp]]'s None does.
    * Shared with [[KvZoneMaps]], which compares shard BOUNDS (decoded
    * through the same internal domain) against the same literals. */
  private[sources] def cmpToLiteral(dt: DataType, lit: Any): Option[Any => Int] = (dt, lit) match {
    case (_, null) => None
    case (LongType | TimestampType, l: Number) =>
      val y = l.longValue(); Some(x => java.lang.Long.compare(x.asInstanceOf[Long], y))
    case (IntegerType | DateType, l: Number) =>
      val y = l.longValue(); Some(x => java.lang.Long.compare(x.asInstanceOf[Int].toLong, y))
    case (ShortType, l: Number) =>
      val y = l.longValue(); Some(x => java.lang.Long.compare(x.asInstanceOf[Short].toLong, y))
    case (ByteType, l: Number) =>
      val y = l.longValue(); Some(x => java.lang.Long.compare(x.asInstanceOf[Byte].toLong, y))
    case (DoubleType, l: Number) =>
      val y = l.doubleValue(); Some(x => sqlDoubleCompare(x.asInstanceOf[Double], y))
    case (FloatType, l: Number) =>
      val y = l.doubleValue(); Some(x => sqlDoubleCompare(x.asInstanceOf[Float].toDouble, y))
    case (StringType, l: UTF8String) =>
      Some(x => x.asInstanceOf[UTF8String].binaryCompare(l))
    case (BooleanType, l: java.lang.Boolean) =>
      val y = l.booleanValue(); Some(x => java.lang.Boolean.compare(x.asInstanceOf[Boolean], y))
    case (_: DecimalType, l: java.math.BigDecimal) =>
      Some(x => x.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.compareTo(l))
    case _ => None
  }

  private def rel(a: String, v: Any, test: Int => Boolean, idxOf: String => Int,
                  dtOf: String => DataType, scratch: Array[Any]): () => Boolean = {
    val i = idxOf(a)
    val dt = dtOf(a)
    cmpToLiteral(dt, canon(dt, v)) match {
      case None => alwaysFalse // null / incomparable literal: eval() yields false too
      case Some(c) => () => { val x = scratch(i); x != null && test(c(x)) }
    }
  }

  private def compileOne(f: Filter, idxOf: String => Int, dtOf: String => DataType,
                         scratch: Array[Any]): () => Boolean = f match {
    case EqualTo(a, v)            => rel(a, v, _ == 0, idxOf, dtOf, scratch)
    case LessThan(a, v)           => rel(a, v, _ < 0, idxOf, dtOf, scratch)
    case LessThanOrEqual(a, v)    => rel(a, v, _ <= 0, idxOf, dtOf, scratch)
    case GreaterThan(a, v)        => rel(a, v, _ > 0, idxOf, dtOf, scratch)
    case GreaterThanOrEqual(a, v) => rel(a, v, _ >= 0, idxOf, dtOf, scratch)
    case In(a, vs) =>
      val i = idxOf(a)
      val dt = dtOf(a)
      val cs: Array[Any => Int] = vs.flatMap(v => cmpToLiteral(dt, canon(dt, v)))
      () => {
        val x = scratch(i)
        if (x == null) false
        else {
          var j = 0
          var hit = false
          while (!hit && j < cs.length) { hit = cs(j)(x) == 0; j += 1 }
          hit
        }
      }
    case IsNull(a)    => val i = idxOf(a); () => scratch(i) == null
    case IsNotNull(a) => val i = idxOf(a); () => scratch(i) != null
    case StringStartsWith(a, p) =>
      val i = idxOf(a)
      val u = UTF8String.fromString(p)
      () => scratch(i) match { case s: UTF8String => s.startsWith(u); case _ => false }
    case StringContains(a, p) =>
      val i = idxOf(a)
      val u = UTF8String.fromString(p)
      () => scratch(i) match { case s: UTF8String => s.contains(u); case _ => false }
    case StringEndsWith(a, p) =>
      val i = idxOf(a)
      val u = UTF8String.fromString(p)
      () => scratch(i) match { case s: UTF8String => s.endsWith(u); case _ => false }
    case EqualNullSafe(a, v) =>
      val i = idxOf(a)
      val dt = dtOf(a)
      val c = canon(dt, v)
      if (c == null) () => scratch(i) == null
      else cmpToLiteral(dt, c) match {
        case None => alwaysFalse // incomparable non-null literal: never equal
        case Some(cf) => () => { val x = scratch(i); x != null && cf(x) == 0 }
      }
    case And(l, r) =>
      val cl = compileOne(l, idxOf, dtOf, scratch)
      val cr = compileOne(r, idxOf, dtOf, scratch)
      () => cl() && cr()
    case Or(l, r) =>
      val cl = compileOne(l, idxOf, dtOf, scratch)
      val cr = compileOne(r, idxOf, dtOf, scratch)
      () => cl() || cr()
    case Not(c) =>
      // the row survives iff the child is definitively FALSE — a child
      // UNKNOWN stays UNKNOWN through NOT and the row is dropped, so the
      // subtree under NOT must evaluate in three-valued logic
      val c3 = compileOne3(c, idxOf, dtOf, scratch)
      () => c3() == False3
    case AlwaysTrue()  => () => true
    case AlwaysFalse() => alwaysFalse
    case other => throw new IllegalStateException(s"unpushable filter reached reader: $other")
  }

  /** Three-valued compiled form, used for every subtree under a `Not`.
    * Same resolution strategy as [[compileOne]] (indices, canon'd
    * literals and typed comparators bound once per partition); returns
    * True3/False3/Unknown3 per record. */
  private def compileOne3(f: Filter, idxOf: String => Int, dtOf: String => DataType,
                          scratch: Array[Any]): () => Byte = {
    def rel3(a: String, v: Any, test: Int => Boolean): () => Byte = {
      val i = idxOf(a)
      val dt = dtOf(a)
      cmpToLiteral(dt, canon(dt, v)) match {
        // null / incomparable literal: the comparison is UNKNOWN for
        // every row (x < NULL is never true OR false)
        case None => () => Unknown3
        case Some(c) => () => {
          val x = scratch(i)
          if (x == null) Unknown3 else bool3(test(c(x)))
        }
      }
    }
    def str3(a: String, p: String, test: (UTF8String, UTF8String) => Boolean): () => Byte = {
      val i = idxOf(a)
      val u = UTF8String.fromString(p)
      () => scratch(i) match {
        case s: UTF8String => bool3(test(s, u))
        case null => Unknown3
        case _ => False3
      }
    }
    f match {
      case EqualTo(a, v)            => rel3(a, v, _ == 0)
      case LessThan(a, v)           => rel3(a, v, _ < 0)
      case LessThanOrEqual(a, v)    => rel3(a, v, _ <= 0)
      case GreaterThan(a, v)        => rel3(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => rel3(a, v, _ >= 0)
      case EqualNullSafe(_, _) | IsNull(_) | IsNotNull(_) | AlwaysTrue() | AlwaysFalse() =>
        // never UNKNOWN — the two-valued compilation is exact
        val c = compileOne(f, idxOf, dtOf, scratch)
        () => bool3(c())
      case In(a, vs) =>
        val i = idxOf(a)
        val dt = dtOf(a)
        val hasNullLit = vs.contains(null)
        val cs: Array[Any => Int] =
          vs.filter(_ != null).flatMap(v => cmpToLiteral(dt, canon(dt, v)))
        () => {
          val x = scratch(i)
          if (x == null) Unknown3
          else {
            var j = 0
            var hit = false
            while (!hit && j < cs.length) { hit = cs(j)(x) == 0; j += 1 }
            if (hit) True3 else if (hasNullLit) Unknown3 else False3
          }
        }
      case StringStartsWith(a, p) => str3(a, p, _.startsWith(_))
      case StringContains(a, p)   => str3(a, p, _.contains(_))
      case StringEndsWith(a, p)   => str3(a, p, _.endsWith(_))
      case And(l, r) =>
        val cl = compileOne3(l, idxOf, dtOf, scratch)
        val cr = compileOne3(r, idxOf, dtOf, scratch)
        () => and3(cl(), cr())
      case Or(l, r) =>
        val cl = compileOne3(l, idxOf, dtOf, scratch)
        val cr = compileOne3(r, idxOf, dtOf, scratch)
        () => or3(cl(), cr())
      case Not(c) =>
        val cc = compileOne3(c, idxOf, dtOf, scratch)
        () => not3(cc())
      case other => throw new IllegalStateException(s"unpushable filter reached reader: $other")
    }
  }
}
