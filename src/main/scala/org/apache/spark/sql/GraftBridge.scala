package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark-internal helpers (the Column<->Expression converters,
  * the file-listing filter), placed in the org.apache.spark.sql package for
  * access. This is the standard pattern public Spark extension libraries
  * use to register custom Catalyst expressions behind a Column-typed API.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Names Spark's file sources leave out of a listing (`_`, `.` prefixes). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
