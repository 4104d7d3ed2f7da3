package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached its listeners, so a spec can assert on
  * what a `SparkListener` or `QueryExecutionListener` saw. Lives in the
  * `org.apache.spark` package purely for access. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
