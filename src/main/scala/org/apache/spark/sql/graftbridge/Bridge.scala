package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `classic.ExpressionUtils` is
  * `private[sql]`, so this one-file shim lives under the
  * `org.apache.spark.sql` package namespace — the standard extension
  * technique for libraries adding native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Decompose a possibly sort-ordered Column into
    * (key column, ascending?, nullsFirst?). Spark 4 Columns wrap an
    * `internal.ColumnNode` tree (Catalyst conversion is deferred), so
    * `c.desc` is an `internal.SortOrder` NODE — matching the Catalyst
    * `expressions.SortOrder` on `expression(c)` sees only the lazy
    * `ColumnNodeExpression` wrapper and never strips the direction. A
    * bare column reports Spark's sort default (ascending, nulls first).
    */
  def sortSpec(c: Column): (Column, Boolean, Boolean) = {
    import org.apache.spark.sql.{internal => in}
    c.node match {
      case so: in.SortOrder =>
        (Column(so.child),
          so.sortDirection == in.SortOrder.Ascending,
          so.nullOrdering == in.SortOrder.NullsFirst)
      case _ => (c, true, true)
    }
  }

  /** The physical plan's RDD[InternalRow] — the no-external-decode scan
    * the guide's noop-sink note warns `.rdd` silently pays for
    * (catalyst → external Row conversion per row). Rows may be REUSED
    * mutable buffers: copy anything retained across iterator steps.
    */
  def internalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Blocks until every listener has handled every event posted so far
    * (at most 60 s): `SparkContext.listenerBus` is `private[spark]`.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** A new dir `<java.io.tmpdir>/<prefix>-<uuid>` that Spark's shutdown
    * hook deletes, with its contents, when the JVM exits:
    * `Utils.createTempDir` is `private[spark]`.
    */
  def shutdownDeletedTempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getAbsolutePath
}
