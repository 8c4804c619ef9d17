package org.apache.spark

/** Test-side access to the `private[spark]` listener bus: block until every
  * posted event reached every listener, so a listener-based count taken
  * afterwards is complete.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
