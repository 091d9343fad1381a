package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`).  Spark 4 removed
  * the public `new Column(expr)` constructor; custom Catalyst
  * expressions still need a Column surface, and this package-scoped
  * shim is the minimal access path. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to expose custom logical operators. */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far reached the session's
    * listeners (`listenerBus` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The executed plan of a finished SQL execution — batch actions,
    * writes and streaming micro-batches alike (`qe` is private[sql]). */
  def executedPlanOf(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.SparkPlan] = Option(e.qe).map(_.executedPlan)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Convert a composed Column to a REAL catalyst tree (not the
    * lazy ColumnNodeExpression wrapper `expression` returns, which
    * only the Dataset API paths resolve).  Function-registry builders
    * need this: their output is spliced into the plan during analysis,
    * so it must be a plain expression tree the analyzer can finish
    * resolving. */
  def catalystExpression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The optimizer rules an extensions bundle would install
    * (`buildOptimizerRules` is private[sql]) — lets a spec assert
    * registration without tearing down the shared test session. */
  def installedOptimizerRules(ext: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** Apply a bundle's injected functions to a registry
    * (`registerFunctions` is private[sql]) — lets a spec assert the
    * registered ExpressionInfo metadata without building a session. */
  def registerInjectedFunctions(ext: SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** Spark's own recursive float-key normalization
    * (`NormalizeFloatingNumbers` is private[sql]): -0.0 → 0.0 and one
    * canonical NaN, INCLUDING inside struct/array/map types — what
    * grouping/join keys need before raw-bytes comparison.  Returns the
    * expression unchanged when its type carries no floating point. */
  def normalizeFloatKey(e: Expression): Expression = {
    // needNormalize is private[optimizer]; the type test it performs is
    // "contains a float anywhere" — reproduce that and let Spark's own
    // normalize do the (recursive) rewrite
    val hasFloat = e.dataType.existsRecursively {
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    if (hasFloat) org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
    else e
  }
}
