package graft.perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Reads of an executed physical plan, through adaptive query stages and
  * subqueries.
  */
object Plans extends AdaptiveSparkPlanHelper {

  /** Exchange nodes (shuffle and broadcast, reused ones included). */
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case e: Exchange => e
      case r: ReusedExchangeExec => r
    }.size

  /** Rows the scan nodes emitted, from their `numOutputRows` metrics. */
  def scanRows(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: DataSourceV2ScanExecBase => s
      case s: FileSourceScanExec => s
    }.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
