package org.apache.spark.sql

import scala.jdk.CollectionConverters._

/** Class names of the listeners registered on a session, for tests that
  * check a call leaves its own behind: Spark keeps both lists
  * package-private.
  */
object ListenerClasses {
  /** SparkListeners on the context's bus, then QueryExecutionListeners on the session. */
  def apply(spark: SparkSession): Seq[String] =
    (spark.sparkContext.listenerBus.listeners.asScala ++
      spark.listenerManager.listListeners()).map(_.getClass.getName).toSeq
}
