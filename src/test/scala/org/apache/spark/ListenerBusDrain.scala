package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * spec that counts jobs with a SparkListener sees all of them. The bus
  * is private to Spark, hence this one-line bridge in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
