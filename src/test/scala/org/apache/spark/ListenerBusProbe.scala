package org.apache.spark

import java.util.concurrent.TimeUnit

import org.apache.spark.scheduler.{JobFailed, SparkListenerJobEnd}

/** Test access to two scheduler details Spark keeps package-private: the
  * listener bus drain (so `statusTracker` reads reflect every event
  * posted so far) and whether a job ended by cancellation.
  */
object ListenerBusProbe {
  /** Block until every listener queue has processed the events posted
    * before this call. The deadline only guards a wedged bus.
    */
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(TimeUnit.HOURS.toMillis(1))

  def cancelled(end: SparkListenerJobEnd): Boolean = end.jobResult match {
    case JobFailed(e) => e.getMessage.contains("cancelled")
    case _ => false
  }
}
