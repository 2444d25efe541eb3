package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

/** The graft-kv scan a query planned, for plan-inspection tests: a
  * distributed read's `BatchScanExec` (found through AQE's query
  * stages), or else a job-free point lookup's [[KvLocalScan]], which
  * Spark plans as a `LocalTableScanExec` and so only the optimized
  * plan's `DataSourceV2ScanRelation` still names. */
final case class PlannedKvScan(scan: Scan, exec: Option[BatchScanExec]) {
  /** The row scan behind either form. */
  def kv: KvScan = scan match {
    case l: KvLocalScan => l.scan
    case k: KvScan      => k
    case other => throw new IllegalStateException(s"not a graft-kv row scan: $other")
  }

  def isLocal: Boolean = scan.isInstanceOf[KvLocalScan]

  /** A connector counter: the exec node's SQL metric for a distributed
    * read, the scan object's driver metric for a local one. */
  def metric(name: String): Long = exec match {
    case Some(b) => b.metrics(name).value
    case None =>
      scan.reportDriverMetrics().find(_.name() == name).map(_.value())
        .getOrElse(throw new NoSuchElementException(s"no metric $name on $scan"))
  }
}

object PlannedKvScan {
  def apply(df: DataFrame): PlannedKvScan = {
    def batch(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec         => Some(b)
      case a: AdaptiveSparkPlanExec => batch(a.executedPlan)
      case s: QueryStageExec        => batch(s.plan)
      case other                    => other.children.view.flatMap(batch).headOption
    }
    batch(df.queryExecution.executedPlan).map(b => PlannedKvScan(b.scan, Some(b)))
      .orElse(df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => PlannedKvScan(r.scan, None)
      })
      .getOrElse(throw new NoSuchElementException(
        s"no graft-kv scan in:\n${df.queryExecution.executedPlan}"))
  }
}
