package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column <-> Expression conversions.
  *
  * Spark 4 made `Column` a thin wrapper over a connect-compatible
  * `ColumnNode`; libraries adding native Catalyst expressions go
  * through `classic.ExpressionUtils`, which is `private[sql]` — hence
  * this one-file shim living in the `org.apache.spark.sql` package
  * (the standard pattern used by Spark-native libraries).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — `Dataset.ofRows` is
    * `private[sql]`, the supported seam for libraries adding custom
    * logical operators. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `f` over `in` on up to `threads` driver threads — Spark's own
    * parallel map (`ThreadUtils` is `private[spark]`), the one it reads
    * parquet footers with */
  def parmap[I, O](in: Seq[I], prefix: String, threads: Int)(f: I => O): Seq[O] =
    org.apache.spark.util.ThreadUtils.parmap(in, prefix, threads)(f)

  /** Release the block storage behind a `localCheckpoint(true)`-backed
    * DataFrame: its analyzed plan is a `LogicalRDD` over the persisted
    * checkpoint RDD, and `Dataset.unpersist` only clears CacheManager
    * entries — the RDD blocks themselves need `rdd.unpersist`. Used as
    * the eviction hook of graft.SessionCache so evicted pair graphs /
    * component maps free executor storage instead of pinning it until
    * RDD GC. No-op for plans without LogicalRDD nodes. */
  def unpersistPlanRdds(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** (start, end) epoch ms of each Catalyst phase (analysis,
    * optimization, planning) of the query an execution-end event
    * closes — the event's `qe` is `private[sql]`. Empty when the event
    * carries no query execution. */
  def planPhases(e: execution.ui.SparkListenerSQLExecutionEnd): Seq[(Long, Long)] =
    Option(e.qe).toSeq.flatMap(_.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)))

  /** Files the executed file scans of an execution-end event's query
    * opened — each scan's `numFiles` driver metric, over AQE stages
    * and subqueries; 0 when the event carries no query execution. */
  def filesRead(e: execution.ui.SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).fold(0L)(qe => PlanWalk.collectWithSubqueries(qe.executedPlan) {
      case s: execution.FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum)
  private object PlanWalk extends execution.adaptive.AdaptiveSparkPlanHelper

  /** Drain the listener bus (`private[spark]`) — a trace reading its
    * SparkListener aggregates right after an action must wait for the
    * async stage-completed events to be delivered, or the metrics
    * undercount nondeterministically. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
