package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Access to the sql-private filter translation: the filters a file scan
  * hands its reader, the list its plan prints as `PushedFilters`. */
object PushedFilters {
  def apply(scan: FileSourceScanExec): Seq[Filter] =
    scan.dataFilters.flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = true))
}
