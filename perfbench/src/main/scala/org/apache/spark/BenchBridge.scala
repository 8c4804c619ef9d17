package org.apache.spark

/** The one Spark-private hook the harness needs: listener events arrive on
  * an asynchronous bus, so each operation's metrics are read only after
  * the bus has delivered everything that operation posted.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
