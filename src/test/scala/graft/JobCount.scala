package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object JobCount {

  /** Jobs started while `body` runs. Listener delivery is asynchronous,
    * so a marker job is run afterwards and the count is taken once the
    * listener has seen the marker start.
    */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val jobs   = new AtomicInteger(0)
    val marker = s"jobs-marker-${System.nanoTime}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == marker))
          markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
