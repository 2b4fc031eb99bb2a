package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The class names of every listener on the context's bus and on the
  * session's query-execution bus, both private to Spark: a test compares
  * them to see that a call left none of its own attached.
  */
object Listeners {
  def names(spark: SparkSession): Seq[String] =
    (spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq).map(_.getClass.getName)
}
