package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, so a per-query job claim can be
  * checked without the benchmark's tracer. Job-start events reach
  * listeners asynchronously, in order; a one-task marker job before and
  * after the block brackets its events, and the count is the starts
  * between the two markers. Assumes no other thread starts jobs
  * meanwhile. */
object Jobs {

  private val DescKey = "spark.job.description"

  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"graft-jobs-marker-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.add(Option(j.properties).flatMap(p => Option(p.getProperty(DescKey)))
          .getOrElse(""))
    }
    def mark(): Unit = {
      val prev = sc.getLocalProperty(DescKey)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DescKey, prev)
    }
    sc.addSparkListener(listener)
    try {
      mark()
      val out = body
      mark()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (starts.toArray.count(_ == marker) < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = starts.toArray.toSeq
      val first = seen.indexOf(marker)
      val last = seen.lastIndexOf(marker)
      require(first >= 0 && last > first, "the job markers never arrived")
      (out, last - first - 1)
    } finally sc.removeSparkListener(listener)
  }
}
