package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the traced run needs and Spark keeps package-private. */
object Bus {

  /** Block until every posted listener event has been delivered, so a
    * span's counts are complete when it closes. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
