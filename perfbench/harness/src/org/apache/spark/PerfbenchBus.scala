package org.apache.spark

/** Waits until every listener queue has delivered its pending events, so
  * that the traced run can attribute each event to the query span that
  * was open when Spark posted it. `SparkContext.listenerBus` is
  * package-private, hence this object's package. The no-argument
  * `waitUntilEmpty` gives up after 10 s, which a busy host can exceed;
  * the run's own deadline bounds this wait instead. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(180000L)
}
