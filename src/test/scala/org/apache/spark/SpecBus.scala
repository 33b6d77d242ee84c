package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * spec can count the Spark jobs one statement started. The bus's drain
  * call is package-private to Spark.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
