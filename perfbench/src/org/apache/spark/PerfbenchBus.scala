package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * traced operation's Spark events can be attributed before the next one
  * starts. The bus's drain call is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
