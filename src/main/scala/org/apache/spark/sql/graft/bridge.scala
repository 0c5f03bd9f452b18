package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Catalyst glue (Spark 4 removed the
  * public `new Column(expr)` constructor in the Column-node refactor). This
  * is the standard extension-library pattern: one file inside the
  * `org.apache.spark.sql` package exposing exactly the private calls the
  * library needs: the two Column/Expression conversions our custom
  * expressions use, function registration, the listener-bus drain and
  * shutdown-deleted temp directories.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a scalar expression builder under `name` for SQL use. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Apply a SparkSessionExtensions' injected functions to a session's
    * registry — the exact (but `private[sql]`) call
    * `SparkSession.applyExtensions` makes at build time; exposed so tests
    * can drive the `spark.sql.extensions` path against the shared session.
    */
  def applyExtensionFunctions(
      spark: SparkSession,
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Block until every event posted so far has reached every listener
    * (the `private[spark]` listener bus drain) — so a listener's counters
    * cover the tail of the action that just returned.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A fresh directory `<java.io.tmpdir>/<prefix>-<uuid>` that Spark's
    * shutdown hook deletes with its contents when the JVM exits
    * (`Utils.createTempDir` registers it with `ShutdownHookManager`).
    */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getAbsolutePath
}
