package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column<->Expression conversions, needed to
  * expose custom Catalyst expressions (graft.functions.*) as user-facing
  * `Column`s in Spark 4 (where `new Column(expr)` is no longer public).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the listener bus (private[spark]) so probes reading
    * accumulated task metrics see every finished task.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `StructType.asNullable` (private[spark]): nullable at every nesting
    * level, as file sources read a user-specified data schema.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** The existence check `spark.read` runs over explicit (non-glob) file
    * paths: throws `PATH_NOT_FOUND` for the first missing one.
    */
  def checkFilesExist(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    execution.datasources.DataSource.checkAndGlobPathIfNecessary(paths,
      conf, checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = false)
    ()
  }
}
