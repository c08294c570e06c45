package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** The two `private[spark]` reads the benchmark needs, kept in one shim. */
object SparkInternals {

  /** Block until every posted listener event has been delivered, so the
   * jobs, stages and query events of an op are recorded before its span
   * is closed and attributed. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** True when the session's CacheManager holds no cached plan. */
  def cacheEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager.isEmpty
}
