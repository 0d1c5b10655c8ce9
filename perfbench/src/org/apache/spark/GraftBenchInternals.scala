// The two Spark internals the benchmark reads live in Spark's own
// packages because they are package-private there.

package org.apache.spark {

  /** Waits until Spark's listener bus has delivered every posted event,
    * so a traced run reads complete job, stage and task totals.
    */
  object GraftBenchBus {
    def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
      sc.listenerBus.waitUntilEmpty(timeoutMs)
  }
}

package org.apache.spark.sql {

  /** Dataset cache entries still registered with the session. */
  object GraftBenchCache {
    def entries(spark: SparkSession): Int =
      spark.sharedState.cacheManager.numCachedEntries
  }
}
