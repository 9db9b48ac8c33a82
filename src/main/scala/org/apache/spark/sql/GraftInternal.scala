package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The one `private[sql]` door the custom-operator layer needs: wrap a
  * hand-built [[LogicalPlan]] into a DataFrame. Lives in the
  * `org.apache.spark.sql` package BY DESIGN — this is the standard
  * extension-library idiom (Delta, Iceberg and Sedona all ship exactly
  * this bridge) and keeps every other graft source outside Spark's
  * package namespace.
  */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** `localCheckpoint(eager)` that also DROPS the forwarded origin
    * statistics. Spark 4's `LogicalRDD.fromDataset` copies the source
    * plan's `Statistics` into the checkpoint node (`originStats`), so in
    * an ITERATIVE loop the estimates COMPOUND across rounds — every join
    * multiplies its children's sizeInBytes, a self-join SQUARES it, and
    * after a few rounds of pointer-jumping the BigInt exponent passes
    * 2^31 bits and stats computation itself throws "BigInteger would
    * overflow supported range" (measured: Boruvka at 5 rounds x 4
    * jumps; planning also slows to minutes computing the giant
    * numbers). Dropping originStats resets each round to the
    * conservative default estimate — broadcast decisions fall back to
    * AQE's runtime sizes, which is what an iterative loop wants anyway.
    */
  def localCheckpointNoStats(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    // re-wrap the ALREADY-CHECKPOINTED rows in a fresh LogicalRDD built
    // without originStats (internalCreateDataFrame never forwards any) —
    // toRdd on the checkpoint is the materialized blocks, no recompute
    val session = df.sparkSession.asInstanceOf[ClassicSparkSession]
    session.internalCreateDataFrame(
      cp.queryExecution.toRdd, cp.schema, isStreaming = false)
  }

  /** Column -> Catalyst expression (Spark 4 moved the old `Column.expr`
    * behind the classic converter). NOTE: `ExpressionUtils.expression`
    * returns a LAZY `ColumnNodeExpression` wrapper that only standard
    * Dataset operators unwrap — inside a custom LogicalPlan it survives
    * to execution and dies with `Cannot evaluate expression` (measured).
    * The eager node converter yields the plain catalyst form
    * (`UnresolvedAttribute` etc.) that the generic analyzer rules
    * resolve in ANY operator.
    */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Catalyst expression -> Column (the reverse door; Spark 4 made the
    * Column(expr) constructor sql-private). Used to unwrap an
    * ordering-wrapped Column (col.asc/col.desc) back to its value child
    * so the value can be projected while the direction is re-applied at
    * the sort — a SortOrder is not a value expression and must never
    * enter a Project (measured: whole-stage codegen throws
    * "Cannot generate code for expression: ... ASC NULLS FIRST").
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The SQL execution an end event reports, from any session of the
    * context: its name (a Dataset action's or a write command's;
    * "unnamed" for the executions Spark leaves unnamed, such as a
    * streaming micro-batch), its query execution and its duration in ns.
    * Spark keeps these fields sql-private; they are set only on the
    * event's in-process copy. None when the execution failed or carries
    * no query execution.
    */
  def executionEnd(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution, Long)] =
    if (e.qe == null || e.executionFailure.isDefined) None
    else Some((e.executionName.getOrElse("unnamed"), e.qe, e.duration))
}
