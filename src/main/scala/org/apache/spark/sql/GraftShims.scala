package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the private[sql] Column ↔ Expression converters, so graft's
  * native Catalyst expressions can expose a public Column API (the same
  * mechanism spark-connect-compatible extension libraries use). */
object GraftShims {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Public alias for the private[sql] AbstractDataType, so graft's
    * expressions can declare `inputTypes` (analysis-time type errors
    * instead of executor ClassCastExceptions). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Free the block-manager blocks behind a `localCheckpoint`ed Dataset
    * (r11 advice: `Dataset.unpersist` routes through the CacheManager,
    * which does not know checkpoint RDDs — a long-lived session ingesting
    * many batches otherwise accumulates checkpoint blocks until the
    * GC-driven ContextCleaner happens to run). Walks the analyzed plan
    * for the LogicalRDD leaves a checkpoint produces and unpersists their
    * backing RDDs directly. */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Register a native function on a LIVE session (getOrCreate ignores
    * extensions when a session already exists — tests and REPLs need this). */
  def registerFunction(spark: SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** A DataFrame over a logical plan graft builds itself (a plan node a
    * graft strategy executes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Adds a planner strategy to the session once (live sessions too, like
    * [[registerFunction]]). */
  def addStrategy(spark: SparkSession,
                  strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }
}
