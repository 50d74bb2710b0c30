package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{Dataset, SparkSession}

/** Audits the caches of operator calls. Each call starts from an empty
  * cache manager and is forced (a returned Dataset is counted). It must
  * leave the cache manager empty, and it must log neither a second cache
  * of one plan ("Asked to cache already cached data": two owners, either
  * one's unpersist drops it for both) nor a cached block filled by two
  * readers at once ("already exists on this machine"). A returned Dataset
  * with no rows is a violation too: an empty call audits nothing. */
object CacheAudit {

  private val warnings =
    Seq("Asked to cache already cached data", "already exists on this machine")

  /** One message per violation, naming its call; empty when all are clean. */
  def apply(spark: SparkSession)(calls: (String, () => Any)*): Seq[String] = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    calls.flatMap { case (name, call) =>
      spark.catalog.clearCache()
      var rows = -1L
      val logged = captureWarnings {
        call() match {
          case ds: Dataset[_] => rows = ds.count()
          case _ =>
        }
      }
      (if (rows == 0) Seq(s"$name returned no rows") else Nil) ++
        (if (cache.isEmpty) Nil else Seq(s"$name left a Dataset cached")) ++
        logged.map(w => s"$name logged: $w")
    }
  }

  private def captureWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cache-audit", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (warnings.exists(m.contains)) seen.add(m)
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }
}
