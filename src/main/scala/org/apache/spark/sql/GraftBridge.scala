package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the sql-private Column↔Expression converters, for wiring
  * custom Catalyst expressions (graft.functions.LpmExpr) into the public
  * Column API. Lives under org.apache.spark.sql only to satisfy the
  * private[sql] access scope. */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Materialize a SparkSessionExtensions' injected functions into a
    * live registry — the session-build step, callable from tests (the
    * method is private[sql]). */
  def registerInjectedFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : Unit = ext.registerFunctions(registry)

  /** Fully lower a Column's node tree to a Catalyst Expression (the
    * converter the classic Dataset API itself uses). Needed when the
    * expression escapes Dataset resolution — e.g. FunctionRegistry
    * builders, where a lazy ColumnNodeExpression wrapper would reach
    * codegen unresolved. */
  def lower(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Eager local checkpoint that REBUILDS the frame as a bare scan
    * with NO carried constraints — at the InternalRow layer, so no
    * per-row InternalRow→Row→InternalRow conversion (the cost of the
    * public `createDataFrame(c.rdd, …)` rebuild: measured +10–24% per
    * CC iteration, SCALE.md r20). NOTE (ADVICE r20): attributes are
    * SHARED with the source plan (qe.analyzed.output is reused, unlike
    * the old public rebuild which minted new ones) — dropping the
    * origin constraints is what fixes the Union rewrite crash. A
    * caller that self-joins the checkpointed frame against its OWN
    * pre-checkpoint source must dedup/alias as for any self-join; the
    * CC loop never does (each iteration consumes only the previous
    * barrier's output).
    * Mirrors Dataset.localCheckpoint's own internals (toRdd +
    * defensive copy + RDD.localCheckpoint + eager count) but builds
    * the result through internalCreateDataFrame, which attaches no
    * origin stats/constraints — the LogicalRDD constraint carry-over
    * is exactly what trips Spark's Union constraint rewrite on
    * union-shaped inputs (ConnectedComponents.ckptBarrier). */
  def bareLocalCheckpoint(df: DataFrame): DataFrame =
    bareLocalCheckpointWithCount(df)._1

  /** [[bareLocalCheckpoint]] plus the row count its eager
    * materialization job already computes — iterative callers
    * (ConnectedComponents' convergence loop) otherwise pay a second
    * count job per round over the just-pinned blocks (r22, guide
    * §1.2: one job per round, not two). */
  def bareLocalCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    // unsafe rows are buffer-reused per partition iterator — copy
    // before pinning, same as Dataset.checkpoint's own toRdd map
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count() // eager, matching Dataset.localCheckpoint()
    // Dataset.checkpoint attaches the physical plan's partitioning +
    // ordering, originStats AND originConstraints to the rebuilt
    // LogicalRDD. Keep partitioning/ordering (losing them costs an
    // Exchange per downstream shuffle consumer) and stats (losing
    // them degrades join estimates to defaultSizeInBytes) — drop ONLY
    // the constraints, the one piece that trips the Union rewrite.
    import org.apache.spark.sql.catalyst.plans.physical.{
      Partitioning, PartitioningCollection}
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other                     => other
    }
    val physical = qe.executedPlan // resolved post-count (AQE final)
    val logical = execution.LogicalRDD(qe.analyzed.output, rdd,
      firstLeaf(physical.outputPartitioning), physical.outputOrdering)(
      spark, Some(qe.optimizedPlan.stats), None)
    (classic.Dataset.ofRows(spark, logical), n)
  }

  /** A DataFrame over a logical plan built outside the Dataset API —
    * how graft.sources.DecodeFlows puts its node on top of a frame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fresh output attributes for a schema (new expression ids). */
  def toAttributes(schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)

  /** Optimize a frame's ANALYZED plan with the session optimizer,
    * without QueryExecution's batch-execution gate — the only way to
    * inspect optimizer placement (e.g. a Filter vs EventTimeWatermark)
    * on a STREAMING frame before start(): touching
    * `queryExecution.optimizedPlan` on one throws
    * UnsupportedOperationChecker's "must be executed with
    * writeStream.start()". The returned plan is advisory (micro-batch
    * execution re-optimizes per batch with the same rule set). */
  def optimizeLogical(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.sparkSession.sessionState.optimizer.execute(
      df.queryExecution.analyzed)
}
