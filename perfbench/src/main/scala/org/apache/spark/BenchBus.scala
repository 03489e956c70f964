package org.apache.spark

/** Listener-bus drain for the traced run: task and query events post
  * asynchronously, and counters are read only once every event of an
  * iteration has been delivered. The drain is private[spark], hence the
  * package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
