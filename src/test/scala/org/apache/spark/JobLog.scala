package org.apache.spark

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the Spark jobs a block of test code starts. Lives in this
  * package for the listener bus's drain, which is `private[spark]`:
  * the log is read only after every event of the block was delivered.
  */
object JobLog {
  final case class Job(tasks: Int, props: Properties) {
    def prop(key: String): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(key)))
  }

  def of[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(e.stageInfos.map(_.numTasks).sum, e.properties))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
