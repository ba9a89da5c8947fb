package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a pass's job metrics are complete when it reads
  * them. The bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
