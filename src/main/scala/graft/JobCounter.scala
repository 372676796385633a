package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs scheduled while a block runs — the number
  * PlanDump profiles and FloorProofSpec pins. The listener bus is
  * asynchronous, so the count is read once it has held still for
  * 3 × 100 ms.
  */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      var prev = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val v = jobs.get()
        if (v == prev) stable += 1 else { stable = 0; prev = v }
      }
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
