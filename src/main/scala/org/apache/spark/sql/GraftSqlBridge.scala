package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge: Column ⇄ Catalyst Expression conversion for
  * graft's custom expressions. Spark 4 made `ExpressionUtils` and the
  * `Column(node)` constructor `private[sql]`, so third-party Catalyst
  * expressions need one forwarding object inside the package. No Spark
  * internals are modified — this only re-exports two conversions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion: expands the column node into
    * a plain catalyst tree (function names become catalyst
    * `UnresolvedFunction`s the analyzer resolves normally). The lazy
    * [[expression]] wrapper is fine inside Dataset operations, but a
    * tree returned from a `SparkSessionExtensions.injectFunction`
    * builder must be analyzer-visible — the lazy wrapper reaches
    * codegen unresolved there. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Wrap an analyzed logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4) — the DML rewrite rule uses this to
    * hand a MERGE source plan back to the DataFrame algebra. */
  def ofRows(s: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Re-root a BATCH DataFrame as a STREAMING micro-batch plan: the
    * micro-batch engine asserts `isStreaming=true` on whatever a V1
    * [[org.apache.spark.sql.execution.streaming.Source.getBatch]]
    * returns, and an arbitrary computed plan (a diff join, say) is a
    * batch plan. The standard V1-source move is to hand the engine the
    * frame's OWN execution RDD wrapped in a streaming-flagged
    * `LogicalRDD` — `toRdd` is lazy, so nothing executes until the
    * sink drives the batch; the computation stays fully distributed. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ofRows(df.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = true))
  }

  /** The loaded V2 catalog plugin registered under `name`
    * (`CatalogManager` is `private[sql]`) — lets the pipeline's
    * TableFormat write through the SAME SnapshotTables root the SQL
    * layer resolves, instead of tracking the root twice. */
  def catalogPlugin(s: SparkSession, name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    s.asInstanceOf[classic.SparkSession].sessionState.catalogManager.catalog(name)

  /** `df.show()`'s rendering as a STRING (`showString` is
    * `private[sql]`) — the pipeline report captures the reference's
    * preview output (job_gold.py:92) instead of printing straight to
    * stdout, so it can go through the same notification sink. */
  def showString(df: DataFrame, numRows: Int = 20, truncate: Int = 20): String =
    df.asInstanceOf[classic.Dataset[Row]].showString(numRows, truncate, vertical = false)

  /** Storage location of a SESSION-catalog table (`getTableMetadata`
    * is on the `private[sql]` session catalog) — the prefix the
    * report's object-count/bytes stats scan. */
  def tableLocation(s: SparkSession, name: String): String = {
    val parts = name.split('.')
    val ti = parts.length match {
      case 1 => org.apache.spark.sql.catalyst.TableIdentifier(parts(0))
      case 2 => org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0)))
      case n => throw new IllegalArgumentException(s"session-catalog name expected, got $n parts: $name")
    }
    s.asInstanceOf[classic.SparkSession].sessionState.catalog.getTableMetadata(ti)
      .location.toString
  }
}
