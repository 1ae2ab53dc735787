package org.apache.spark

/** Test-only accessor for `private[spark]` storage internals (the same
  * bridge play as `org.apache.spark.sql.GraftSqlBridge` on the SQL side):
  * SessionHygieneSpec counts live broadcast blocks to pin the round-5
  * leak class at the resource level, and GraphSpec drains the listener
  * bus so every action's event has reached its listener.
  */
object GraftSparkTestBridge {
  def broadcastBlockCount(sc: SparkContext): Int =
    SparkEnv.get.blockManager.master.getStorageStatus
      .map(_.blocks.keys.count(_.isBroadcast)).sum

  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
