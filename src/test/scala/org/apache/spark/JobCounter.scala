package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Runs `body` and returns its result with the number of Spark jobs it
  * started. Listener events arrive asynchronously, so the bus is
  * drained before the listener goes on and again before the count is
  * read; the drain is Spark-internal, so this helper lives in Spark's
  * package (like [[CheckpointDirScope]]). Jobs are attributed through
  * a local property set on the calling thread, so a job that anything
  * else runs on the shared context meanwhile is never counted.
  */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, sites) = callSites(sc)(body)
    (out, sites.size)
  }

  /** [[apply]] with each job's call site (its result stage's name,
    * e.g. "count at Foo.scala:12") instead of the count.
    */
  def callSites[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val tag = java.util.UUID.randomUUID().toString
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(Key) == tag)
          sites.add(j.stageInfos.maxBy(_.stageId).name)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (out, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
