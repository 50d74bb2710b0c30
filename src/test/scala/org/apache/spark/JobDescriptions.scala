package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The description of every job a body submits, read after the listener
  * bus has delivered all of their start events (the bus is internal to
  * Spark, hence the package). */
object JobDescriptions {
  def apply[A](sc: SparkContext)(body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
