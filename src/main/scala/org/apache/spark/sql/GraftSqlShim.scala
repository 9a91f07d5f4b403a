package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCPartition, JDBCRelation}

/** The sanctioned crossings into Spark's `private[sql]` and
  * `private[spark]` surface, the
  * same doorway every planner-extending library (Delta, Sedona, Iceberg
  * runtime) uses. Nothing else may live in this package: keeping the
  * shim to three short forwarders makes the internal-API exposure
  * auditable.
  *  - [[ofRows]]: wrapping a custom [[LogicalPlan]] (graft.plans.AsofJoin)
  *    in a DataFrame requires `Dataset.ofRows`.
  *  - [[jdbcSource]]: the options of a bare JDBC read, for
  *    graft.etl.JdbcProbe; `JDBCRelation` is `private[sql]`.
  *  - [[setOutputMetrics]]: a DSv2 write task's bytes and records
  *    written, for graft.etl.ParquetRangeTable; `OutputMetrics`'
  *    setters are `private[spark]`.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The options and the partitions' WHERE clauses (None for a
    * partition that reads every row) of `df` when its analysed plan is
    * exactly a JDBC relation, with no operator on top. */
  def jdbcSource(df: DataFrame): Option[(JDBCOptions, Seq[Option[String]])] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: JDBCRelation => Some((r.jdbcOptions,
          r.parts.toSeq.map(p => Option(p.asInstanceOf[JDBCPartition].whereClause))))
        case _ => None
      }
      case _ => None
    }

  /** Sets the running task's output bytes and records; no-op off a task. */
  def setOutputMetrics(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { c =>
      val m = c.taskMetrics().outputMetrics
      m.setBytesWritten(bytes)
      m.setRecordsWritten(records)
    }
}
