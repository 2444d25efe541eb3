package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, IntegerLiteral, InterpretedOrdering, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, PropagateEmptyRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.StructType

/** A driver read: a graft-kv batch read that the one driver-read rule
  * ([[KvScanBuilder]]: a snapshot read, rowkey-bounded, within the
  * one-reader budget) answers on the driver, the way an HBase `Get` or
  * short `Scan` never launches a batch job. A distributed read pays ~35
  * ms of fixed per-job cost (closure cleaning, task scheduling), while
  * reading the few thousand records such a read touches costs a few.
  *
  * It wraps (does not extend) the scan the builder planned — a row
  * [[KvScan]] or a pushed [[KvAggScan]] — and reads `parts` through that
  * scan's own reader factory, so the same shard selection picks the
  * shards and the same readers serve them: bloom gate, `_shard`,
  * `_event_time`, pushed value filters, `asOfVersion`, the DESC ring
  * buffer, the manifest COUNT/MIN/MAX fast path and the checked
  * cross-shard ANSI sum. It offers no runtime filtering (its rows exist
  * before a join's build side does), no reported ordering and no
  * key-grouped partitioning: those stay on distributed scans. Pruning
  * and read counters stay readable through [[reportDriverMetrics]] on
  * the scan object; a `LocalTableScanExec` has no SQL metrics to carry
  * them. [[KvDriverReadStrategy]] carries the rows to the plan root and
  * plans them as a [[KvDriverReadExec]], whose EXPLAIN line shows this
  * scan's description (`Read: driver`). */
final class KvDriverScan private[sources] (val scan: Scan with Batch,
                                           parts: Array[InputPartition], desc: String)
    extends LocalScan with SupportsReportStatistics {

  private var recordsRead = 0L
  private var bytesRead = 0L
  private var skippedBloom = 0L

  private lazy val read: Array[InternalRow] = {
    val factory = scan.createReaderFactory()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    parts.foreach { p =>
      val reader = factory.createReader(p)
      try {
        // both row readers allocate a fresh row per record: no copy
        while (reader.next()) out += reader.get()
        reader.currentMetricsValues().foreach { m =>
          m.name() match {
            case "kvRecordsRead"        => recordsRead += m.value()
            case "kvBytesRead"          => bytesRead += m.value()
            case "kvShardsSkippedBloom" => skippedBloom += m.value()
            case _                      => ()
          }
        }
      } finally reader.close()
    }
    out.toArray
  }

  override def rows(): Array[InternalRow] = read
  override def readSchema(): StructType = scan.readSchema()
  override def description(): String = desc

  /** The wrapped row scan's manifest estimate; an aggregate reports none. */
  override def estimateStatistics(): Statistics = scan match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = KvScanMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    scan.reportDriverMetrics() ++ Array(
      KvScanMetrics.taskMetric("kvRecordsRead", recordsRead),
      KvScanMetrics.taskMetric("kvBytesRead", bytesRead),
      KvScanMetrics.taskMetric("kvShardsSkippedBloom", skippedBloom))
}

/** Carries a driver read's rows to the plan root. Spark plans a
  * `LocalScan` as a `LocalTableScanExec` leaf, but any operator above it
  * — the aliasing `Project` of a pushed aggregate, a projection that
  * reorders columns, a residual filter, the Sort and Limit of a top-N —
  * is an ordinary physical operator, and collecting through it runs a
  * job. This strategy turns a chain of deterministic
  * `Project`/`Filter`/`Limit`/`Sort` over a driver read into ONE
  * `LocalTableScanExec`, whose `collect()` returns its rows with no job:
  * the rows become a `LocalRelation`, Spark's own
  * `ConvertToLocalRelation` and `PropagateEmptyRelation` fold each
  * projection, filter and limit into it, and a sort runs on the driver
  * with Spark's row ordering.
  *
  * It also matches under `ReturnAnswer`, the root every query plans
  * from: otherwise `SpecialLimits` would plan a Limit over a Sort as a
  * `TakeOrderedAndProjectExec`, which runs a job. Anything else —
  * subqueries, nondeterministic or Python expressions, aggregates, joins
  * — plans over the local rows as Spark plans any `LocalScan`.
  * A Project or Filter it cannot fold directly over a driver read is
  * planned here as Spark's own operator over the read, so that Spark's
  * `DataSourceV2Strategy` never plans the read itself as a bare
  * `LocalTableScanExec` without the EXPLAIN marker.
  *
  * `graft.GraftExtensions` installs it in every session (see there);
  * installed twice, the first copy plans and the plan is the same. */
object KvDriverReadStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    val root = plan match {
      case ReturnAnswer(child) => child
      case other               => other
    }
    fold(root) match {
      case Some((l, d)) => new KvDriverReadExec(l.output, l.data, None)(d.description()) :: Nil
      case None => plan match {
        case Project(list, child) if overDriverRead(child) =>
          ProjectExec(list, planLater(child)) :: Nil
        case Filter(cond, child) if overDriverRead(child) =>
          FilterExec(cond, planLater(child)) :: Nil
        case _ => Nil
      }
    }
  }

  private def overDriverRead(plan: LogicalPlan): Boolean = plan match {
    case DataSourceV2ScanRelation(_, _: KvDriverScan, _, _, _) => true
    case Project(_, child) => overDriverRead(child)
    case Filter(_, child)  => overDriverRead(child)
    case _                 => false
  }

  private def foldable(e: Expression): Boolean = e match {
    case s: SortOrder => foldable(s.child) // the sort key; SortOrder itself never evaluates
    case _ =>
      e.deterministic && !SubqueryExpression.hasSubquery(e) &&
        !ConvertToLocalRelation.hasUnevaluableExpr(e)
  }

  /** The rows `plan` produces and the driver read under them, when it is
    * a foldable chain over a driver read; the rows are read only once the
    * whole chain's shape passes. */
  private def fold(plan: LogicalPlan): Option[(LocalRelation, KvDriverScan)] = plan match {
    case DataSourceV2ScanRelation(_, d: KvDriverScan, output, _, _) =>
      Some((LocalRelation(output, d.rows().toIndexedSeq), d))
    case op @ (_: Project | _: Filter | _: LocalLimit | _: GlobalLimit | _: Sort)
        if op.expressions.forall(foldable) =>
      fold(op.children.head).flatMap { case (l, d) =>
        step(op.withNewChildren(Seq(l))).map((_, d))
      }
    case _ => None
  }

  /** One operator over local rows, folded into local rows. */
  private def step(op: LogicalPlan): Option[LocalRelation] =
    PropagateEmptyRelation(ConvertToLocalRelation(op)) match {
      case l: LocalRelation => Some(l)
      case Sort(order, _, l: LocalRelation, _) =>
        Some(l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output))))
      // ConvertToLocalRelation folds only a GlobalLimit over its own
      // LocalLimit; folding bottom-up meets each half alone
      case LocalLimit(IntegerLiteral(n), l: LocalRelation) => Some(l.copy(data = l.data.take(n)))
      case GlobalLimit(IntegerLiteral(n), l: LocalRelation) => Some(l.copy(data = l.data.take(n)))
      case _ => None
    }
}

/** A driver read's physical leaf: Spark's `LocalTableScanExec` (collect,
  * take and tail return its rows with no job), whose EXPLAIN line also
  * shows the driver read's scan description, so the plan names the rule
  * that ran (`Read: driver`). The description is a second parameter
  * list, which Spark's tree copies carry through `otherCopyArgs`. */
final class KvDriverReadExec(attrs: Seq[Attribute], data: Seq[InternalRow],
                             src: Option[SparkDataStream])(val read: String)
    extends LocalTableScanExec(attrs, data, src) {
  override def nodeName: String = "LocalTableScan"
  override protected def otherCopyArgs: Seq[AnyRef] = read :: Nil
  override protected def stringArgs: Iterator[Any] = super.stringArgs ++ Iterator(read)
}
