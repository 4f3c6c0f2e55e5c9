package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}

/** Test-side bridge into Spark's package-private state, the pattern
  * of [[ColumnBridge]]. `SparkContext` can set a checkpoint directory
  * but not unset it, and the tests share one session whose later
  * suites must see the no-directory policy again; the cache manager
  * counts its entries only for Spark's own package. */
object SparkInternals {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
