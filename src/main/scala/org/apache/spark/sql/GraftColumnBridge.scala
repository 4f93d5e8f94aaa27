package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters — the
  * supported way to surface custom Catalyst expressions as Columns in
  * Spark 4's split Column API (classic.ExpressionUtils is
  * package-private). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Bridge to `private[sql]` Dataset.ofRows: wrap an explicitly
    * rewritten LogicalPlan (e.g. [[graft.plans.BandJoinRule.rewrite]])
    * back into a DataFrame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (`private[sql]` via
    * queryExecution on the classic API). */
  def analyzed(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Bridge to the `private[sql]` per-session UUID — globally unique
    * per SparkSession instance (unlike an identity hash, which can
    * repeat after GC). Used by [[graft.operators.DerivedCache]] as
    * its session key. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Bridge to the `private[sql]` CacheManager emptiness check — lets
    * a spec assert that an operator unpersisted every frame it cached
    * before returning (the library-hygiene contract: a long-lived
    * session calling operators repeatedly must not accumulate pinned
    * storage; see e.g. [[graft.operators.ConnectedComponents]]'s edge
    * cache). */
  def noCachedFrames(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Bridge to `private[sql]` Observation.getOrEmpty — the NON-blocking
    * metrics read (returns after its short internal wait instead of
    * parking the caller forever when the listener event was shed).
    * Used by [[graft.Bench]]'s bounded row-count poll and by the
    * Bloom fold of [[graft.streaming.StreamingCorpusPipeline]]. */
  def observedOrEmpty(obs: Observation): Map[String, Any] =
    obs.getOrEmpty

  /** Bridge to the `private[spark]` listener bus: returns once every
    * event posted so far has reached its listeners, so a listener
    * counter read right after an action includes that action's jobs.
    * Used by [[graft.JobAudit]] and the S26 pipeline's spec-only
    * residue count. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
