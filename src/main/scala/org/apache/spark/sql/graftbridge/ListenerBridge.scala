package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Narrow bridge into the `private[spark]` listener bus. Lives in an
  * `org.apache.spark` subpackage solely for access. [[graft.QueryRecord]]
  * reads its rows only after every event posted so far has reached its
  * listeners, and the bus delivers events asynchronously. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
