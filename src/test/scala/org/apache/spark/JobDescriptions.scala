package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The start event of every job a body submits, in job order, read after
  * the listener bus has delivered all of them (the bus is internal to
  * Spark, hence the package). */
object JobStarts {
  def apply[A](sc: SparkContext)(body: => A): (A, Seq[SparkListenerJobStart]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.add(js)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.sortBy(_.jobId))
    } finally sc.removeSparkListener(listener)
  }
}

/** The description of every job a body submits. */
object JobDescriptions {
  def apply[A](sc: SparkContext)(body: => A): (A, Seq[String]) = {
    val (out, starts) = JobStarts(sc)(body)
    (out, starts.map(js => Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
  }
}
