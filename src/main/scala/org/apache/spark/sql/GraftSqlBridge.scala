package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's Column ⇄ Expression converters, which are
  * `private[sql]` in the Scala signatures (the bytecode is public — Spark
  * 4 wraps classic Catalyst expressions in ColumnNodes), and into the
  * size estimate a checkpoint's LogicalRDD carries. Living in the
  * `org.apache.spark.sql` package is the standard mechanism extension
  * libraries use to expose a custom Catalyst Expression through the public
  * Column API. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A checkpoint (`localCheckpoint`'s LogicalRDD) with the size estimate
    * it inherits from its origin plan capped at `spark.sql.defaultSizeInBytes`,
    * the estimate of a frame without statistics. */
  def capSizeEstimate(ck: DataFrame): DataFrame = {
    val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
    val cap = BigInt(session.sessionState.conf.defaultSizeInBytes)
    ck.queryExecution.analyzed match {
      case l: LogicalRDD if l.stats.sizeInBytes > cap =>
        classic.Dataset.ofRows(session, l.copy()(session, Some(Statistics(cap)), None))
      case _ => ck
    }
  }
}
