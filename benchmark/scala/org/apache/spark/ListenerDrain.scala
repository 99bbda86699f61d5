package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * trace read after a window holds all of that window's stages. The bus
  * is private to Spark, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
