package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. It lives in Spark's package for
  * the listener bus, which Spark keeps package-private: the bus is
  * drained before the count is read, so every job the block started has
  * been delivered. Every job on the context counts, whichever thread
  * started it, so a count can only err high. */
object Jobs {
  /** The short call site of each job `body` started. */
  def during(sc: SparkContext)(body: => Any): Seq[String] = {
    sc.listenerBus.waitUntilEmpty()
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        // the result stage (highest id) is named after the job's call site
        sites.add(e.stageInfos.sortBy(-_.stageId).headOption
          .fold(s"job ${e.jobId}")(_.name))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      sites.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
