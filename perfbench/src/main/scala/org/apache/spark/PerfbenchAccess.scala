package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Two reads the benchmark's trace needs that Spark keeps internal. */
object PerfbenchAccess {

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of Dataset-level cache entries in the CacheManager. */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")) match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Seq[_] => s.size
          case _ => if (cm.isEmpty) 0 else 1
        }
      case None => if (cm.isEmpty) 0 else 1
    }
  }
}
