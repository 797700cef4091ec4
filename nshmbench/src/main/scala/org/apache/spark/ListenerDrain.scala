package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * listener bus is package-private, hence this file's package. The traced
  * run calls it between API calls so listener callbacks attribute to the
  * call that caused them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
