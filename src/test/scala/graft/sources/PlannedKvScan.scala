package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

/** The graft-kv scan a query planned, for plan-inspection tests: a
  * distributed read's `BatchScanExec` (found through AQE's query
  * stages), or else a driver read's [[KvDriverScan]] (rows or a pushed
  * aggregate), which Spark plans as a `LocalTableScanExec` and so only
  * the optimized plan's `DataSourceV2ScanRelation` still names. */
final case class PlannedKvScan(scan: Scan, exec: Option[BatchScanExec]) {
  /** The graft-kv scan behind either form: a driver read's wrapped scan. */
  def inner: Scan = scan match {
    case d: KvDriverScan => d.scan
    case other           => other
  }

  /** The row scan that selects the shards: a pushed aggregate's base. */
  def kv: KvScan = inner match {
    case k: KvScan    => k
    case a: KvAggScan => a.base
    case other => throw new IllegalStateException(s"not a graft-kv scan: $other")
  }

  def isDriver: Boolean = scan.isInstanceOf[KvDriverScan]
  def isAggregate: Boolean = inner.isInstanceOf[KvAggScan]

  /** A connector counter: the exec node's SQL metric for a distributed
    * read, the scan object's driver metric for a driver read. */
  def metric(name: String): Long = exec match {
    case Some(b) => b.metrics(name).value
    case None =>
      scan.reportDriverMetrics().find(_.name() == name).map(_.value())
        .getOrElse(throw new NoSuchElementException(s"no metric $name on $scan"))
  }
}

object PlannedKvScan {
  /** A plan whose graft-kv reads all run on the driver is inspected on
    * its optimized plan alone: physical planning would read the rows
    * (and raise a read's error, such as an ANSI overflow, early). */
  def apply(df: DataFrame): PlannedKvScan = {
    def batch(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec         => Some(b)
      case a: AdaptiveSparkPlanExec => batch(a.executedPlan)
      case s: QueryStageExec        => batch(s.plan)
      case other                    => other.children.view.flatMap(batch).headOption
    }
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    if (scans.nonEmpty && scans.forall(_.isInstanceOf[KvDriverScan]))
      PlannedKvScan(scans.head, None)
    else batch(df.queryExecution.executedPlan).map(b => PlannedKvScan(b.scan, Some(b)))
      .orElse(scans.headOption.map(PlannedKvScan(_, None)))
      .getOrElse(throw new NoSuchElementException(
        s"no graft-kv scan in:\n${df.queryExecution.executedPlan}"))
  }
}
