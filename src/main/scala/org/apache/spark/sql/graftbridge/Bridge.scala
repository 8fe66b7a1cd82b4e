package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin bridge into Spark's `private[sql]` Column <-> Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils), so graft's custom
  * Catalyst expressions can be exposed as user-facing `Column`s. Lives
  * under org.apache.spark.sql.* purely for access scope; no Spark internals
  * are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free the storage behind a `localCheckpoint()`ed Dataset NOW instead
    * of waiting for driver GC + ContextCleaner: a maintained index that
    * re-pins per append would otherwise accumulate full-corpus checkpoint
    * copies in executor storage between GCs. Safe no-op for any other
    * plan shape. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The catalog's default (managed) location for a default-database
    * table name — where `saveAsTable` would put it. Lets callers clear a
    * stale location left by a DIFFERENT session's managed table (the
    * catalog forgets across sessions, the filesystem doesn't, and
    * saveAsTable refuses to adopt an existing directory). */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession,
                       table: String): java.net.URI =
    spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** Drain the SparkListener event bus (private[spark]) — lets a spec
    * count jobs through a SparkListener without racing the async event
    * delivery. Test-support only. */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Register a custom expression under `name` in the session's function
    * registry so it is callable from Spark SQL text. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        builder.getClass.getCanonicalName, name),
      builder)
}
