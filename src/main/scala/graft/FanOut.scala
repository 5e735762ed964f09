package graft

import java.util.concurrent.{CancellationException, ExecutionException,
  ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession

/** Structured fan-out of independent driver thunks as CONCURRENT Spark
  * jobs (optimization guide §2.6 "overlap independent jobs"): actions are
  * only sequential because driver code calls them sequentially, and
  * independent work — parity epoch builds, K query legs, an index
  * commit's table writes, the graph export's tables — lets later jobs'
  * tasks back-fill executors idled by the current job's tail.
  *
  * Each thunk's jobs carry a job tag of their own, ADDED to whatever the
  * calling thread carries (pool threads inherit the caller's local
  * properties), so an enclosing job group — `graft.Bench`'s per-gate
  * timeout group — still cancels every nested job. On the first failure
  * the call stops starting thunks, cancels every thunk's tag, waits for
  * all of them to finish and rethrows that first failure: no sibling job
  * outlives the call. Results come back in input order; the pool is
  * daemon + bounded and always shut down. Single-element input
  * short-circuits to a plain call.
  */
object FanOut {
  private val calls = new AtomicLong()

  private[graft] def inParallel[A](fs: Seq[() => A]): Seq[A] =
    if (fs.size <= 1) fs.map(_())
    else {
      val sc = SparkSession.active.sparkContext
      val call = calls.incrementAndGet()
      val tags = fs.indices.map(i => s"graft-fanout-$call-$i")
      val failed = new AtomicBoolean(false)
      val pool = Executors.newFixedThreadPool(
        math.min(fs.size, 8),
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      try {
        val done = new ExecutorCompletionService[A](pool)
        val futs = fs.zip(tags).map { case (f, tag) =>
          done.submit { () =>
            if (failed.get) throw new CancellationException(s"$tag: a sibling failed")
            // pool threads are reused: the tag must not outlive its thunk
            sc.addJobTag(tag)
            try f() finally sc.removeJobTag(tag)
          }
        }
        var first: Throwable = null
        fs.foreach { _ =>
          try done.take().get()
          catch {
            case e: ExecutionException => if (first == null) {
              first = e.getCause
              failed.set(true)
              tags.foreach(sc.cancelJobsWithTag(_, s"a sibling failed: $first"))
            }
          }
        }
        if (first != null) throw first
        futs.map(_.get())
      } finally pool.shutdown()
    }
}
