package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, classic}

/** Test access to the shared cache manager, as [[ListenerBusShim]] gives
  * to the listener bus. */
object CacheManagerShim {

  /** The frames cached on `spark`'s context (every session of it shares
    * one cache manager), stored yet or not. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
