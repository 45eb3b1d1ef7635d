package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to deliver every event of a traced pass
  * before it reads its listener.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
