package org.apache.spark.flowbench

/** Listener events are delivered asynchronously; the tracer reads its
  * records only after every event posted so far has been handled.
  */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
