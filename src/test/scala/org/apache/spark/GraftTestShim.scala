package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Test-only access to session internals that have no public reader or
  * reset: SparkContext's checkpoint dir (settable, never unsettable) and
  * the CacheManager's entry count. */
object GraftTestShim {

  /** Run `body` with `dir` as the context's checkpoint dir, then put the
    * previous setting (usually none) back, so later suites still take
    * local checkpoints. */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }

  /** Number of entries in the session's CacheManager (cache()d plans). */
  def cachedEntries(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.IndexedSeq[_]].size
  }
}
