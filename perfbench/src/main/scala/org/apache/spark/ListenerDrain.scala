package org.apache.spark

/** `listenerBus` is package-private: the traced run waits here until
  * every posted event reached the listener before it reads counters. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
