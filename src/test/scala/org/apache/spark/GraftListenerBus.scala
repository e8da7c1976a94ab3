package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listeners have seen all jobs and query executions of the code it
  * measured. The bus is private to the `org.apache.spark` package, hence
  * this package.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
