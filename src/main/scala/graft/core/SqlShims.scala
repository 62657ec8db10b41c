// Lives in org.apache.spark.sql so it can reach the private[sql]
// Expression<->Column bridge that Spark 4.x hides behind the classic shim.
// SparkShims.scala (package org.apache.spark) is its core-side twin;
// these two are the only files outside package graft; keep them tiny.
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Stable per-session identifier (private[sql] on the classic class). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** A child session: the parent's conf, extensions and execution
    * listeners, then its own from here on (private[sql]). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Wrap an analyzed/constructed logical plan as a DataFrame. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** The batch RDD of `df`'s CacheManager entry, if `df` is persisted:
    * computing it fills the entry's blocks at its storage level and its
    * size and row-count stats (private[sql] cache builder). */
  def cachedBatches(df: DataFrame):
      Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.columnar.CachedBatch]] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers)
  }

  /** The frame over `rows`, a filled copy of `df`'s rows, with `df`'s
    * output partitioning, ordering and statistics: how `localCheckpoint`
    * wraps the rows it cuts (private[sql]). */
  def fromRows(rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ofRows(ds.sparkSession, execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** Idempotently add a planner strategy to an EXISTING session. */
  def addStrategy(spark: SparkSession,
      st: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(st))
      exp.extraStrategies = st +: exp.extraStrategies
  }
}
