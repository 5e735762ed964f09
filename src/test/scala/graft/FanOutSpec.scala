package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

object FanOutSpec {
  /** Counted down by the sibling's task once it runs. */
  val taskRunning = new CountDownLatch(1)
  /** Holds the sibling's task until the test releases it. */
  val release = new CountDownLatch(1)

  def blockedTask(x: Int): Int = { taskRunning.countDown(); release.await(); x }
}

class FanOutSpec extends AnyFunSuite with SparkTestSession {
  import FanOutSpec._

  test("thunks keep the caller's job group, add their own tag, and return in input order") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer-group", "fan-out spec")
    try {
      val seen = FanOut.inParallel((0 until 10).map(i => () =>
        (i, sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags())))
      assert(seen.map(_._1) == (0 until 10))
      seen.foreach { case (i, group, tags) =>
        assert(group == "outer-group", s"thunk $i")
        assert(tags.size == 1 && tags.head.startsWith("graft-fanout-"), s"thunk $i: $tags")
      }
      assert(seen.map(_._3.head).distinct.size == 10)
    } finally sc.clearJobGroup()
  }

  test("a failing thunk cancels its sibling's running job, awaits it and rethrows its own error") {
    val sc = spark.sparkContext
    val siblingJobs = ConcurrentHashMap.newKeySet[Int]()
    val siblingEnd = new CountDownLatch(1)
    @volatile var siblingCancelled = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .contains("blocked sibling")) siblingJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (siblingJobs.contains(e.jobId)) {
          siblingCancelled = ListenerBusProbe.cancelled(e)
          siblingEnd.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val err = intercept[IllegalStateException] {
        FanOut.inParallel(Seq(
          () => { taskRunning.await(); throw new IllegalStateException("thrower") },
          () => {
            sc.setJobDescription("blocked sibling")
            sc.parallelize(Seq(1), 1).map(blockedTask).count()
          }))
      }
      assert(err.getMessage == "thrower")
    } finally release.countDown()
    // released only now: a sibling job still running here would finish
    // successfully and fail the assertion instead of hanging the suite
    siblingEnd.await()
    sc.removeSparkListener(listener)
    assert(siblingCancelled, "the sibling's job must end cancelled")
    ListenerBusProbe.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
