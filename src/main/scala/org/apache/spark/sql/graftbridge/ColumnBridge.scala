package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved `Column` off Catalyst `Expression` (Spark Connect split);
  * the classic-backend converters are `private[sql]`. This bridge lives in
  * the sql package namespace to expose the two conversions our custom
  * Catalyst expressions need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `Dataset.ofRows` and the analyzed plan of a DataFrame are
  * `private[sql]`; custom logical operators (graft.plans) need both to
  * wrap a plan they build back into the public Dataset API. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** The session's cache entries, for measured-size gates: whether a
  * frame's plan is cached, and its cached rows and bytes once filled. */
object CacheBridge {
  private def entry(df: org.apache.spark.sql.DataFrame) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
  }

  def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
    entry(df).isDefined

  /** Fills the cache serving `df` (which must be cached) with ONE job — a
    * row count over its cached batches, no shuffle — and returns (rows,
    * cached bytes) as the cache measured them. */
  def fill(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val cache = entry(df).getOrElse(
      throw new IllegalArgumentException("frame is not cached"))
      .cachedRepresentation.cacheBuilder
    val rows = cache.cachedColumnBuffers
      .map(_.numRows.toLong).fold(0L)(_ + _)
    (rows, cache.sizeInBytesStats.value.longValue)
  }
}
