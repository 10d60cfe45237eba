package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column <-> Expression bridge. Spark 4 made these conversions
 * `private[sql]` (Column is ColumnNode-backed since SPARK-44111); exposing
 * them from inside the sql package is the standard extension pattern (cf.
 * the public Qbeast/Pathling DatasetFactory snippets in SNIPPETS.md).
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (private[spark]) — measurement code needs
    * job-end events flushed before reading listener state. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Operator scopes of a stage's RDDs in lineage order (e.g.
    * `WholeStageCodegen (2)`, `Exchange`): the plan operators a stage runs.
    * `RDDOperationScope` is private[spark]. */
  def stageScopes(info: org.apache.spark.scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
