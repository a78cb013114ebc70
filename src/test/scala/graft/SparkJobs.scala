package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{SparkContext, TestListenerBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Listener events arrive
  * asynchronously, so the bus is drained before the listener attaches
  * (earlier jobs' events cannot leak in) and again before the count is
  * read (the block's own events have all landed). */
object SparkJobs {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.flush(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.flush(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
