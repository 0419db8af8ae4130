package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Counts the "Listing leaf files" jobs Spark runs while `body` does:
  * the parallel directory listing a file scan pays when its file index
  * has no memoized listing for more than the discovery threshold's
  * paths. */
object ListingJobs {
  def apply[T](sc: SparkContext)(body: => T): (Int, T) = {
    val listings = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listings.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (listings.get, out)
    } finally sc.removeSparkListener(listener)
  }
}
