package org.apache.spark.sql

/** Test access to the number of plans a session has cached, which Spark
  * keeps package-private.
  */
object CacheProbe {
  def cachedPlans(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries
}
