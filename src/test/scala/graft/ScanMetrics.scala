package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** File counts from a query's own executed plan: the "number of files
  * read" metric of its parquet scans, after catalog file skipping.
  */
object ScanMetrics extends AdaptiveSparkPlanHelper {

  /** Run `df` in an execution of its own and sum its
    * `FileSourceScanExec`s' files read (subqueries and adaptive query
    * stages included). A physical plan lists its files, and sets the
    * metric, once: every later action on it resets the metric to 0.
    */
  def filesRead(df: DataFrame): Long = {
    val run = df.select("*")
    run.collect()
    collectWithSubqueries(run.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }
}
