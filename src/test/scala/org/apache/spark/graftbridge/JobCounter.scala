package org.apache.spark.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches, for specs that pin job counts.
  * Listener events arrive asynchronously, so the bus is drained before
  * and after the block; the drain is `private[spark]`, hence the
  * package.
  */
object JobCounter {
  def jobsIn[T](sc: SparkContext)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, starts.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The distinct shuffle exchanges the jobs ran or reused. */
  def shuffles(jobs: Seq[SparkListenerJobStart]): Set[Int] =
    jobs.flatMap(_.stageInfos).flatMap(_.shuffleDepId).toSet

  /** Where a job came from, for failure messages. */
  def callSite(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?"))
}
