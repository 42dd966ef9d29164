// Bridge into Spark's package-private classic Column/Expression converters.
// Standard technique for libraries shipping native Catalyst expressions
// (the public API intentionally hides Expression since the Connect split).
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True when no Dataset persist is registered — the cache-lifecycle
    * assertion surface (CacheManager is private[sql]).
    */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes, parsed as Spark
    * parses it (≤ 0 = broadcasting disabled).
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold
}
