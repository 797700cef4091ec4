package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus. */
object Listeners {

  /** Block until every event posted so far has reached every listener:
    * listener metrics read after an action returns are then complete.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
