package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object SparkJobs {
  /** `body`'s result and the number of Spark jobs it started, told from
    * other threads' jobs by a job group. A fence job after it flushes the
    * listener bus, which delivers in order. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "the jobs under count")
      val out = body
      sc.setJobGroup("fence", "flush the listener bus")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("fence"), groups)
      (out, groups.toArray.count(_ == "counted"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
