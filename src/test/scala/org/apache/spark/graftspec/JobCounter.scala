package org.apache.spark.graftspec

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block starts and the rows its tasks read.
  * It sits under
  * `org.apache.spark` to drain the listener bus (`private[spark]`)
  * before and after the block, so no earlier job is counted and no
  * late event is missed. */
object JobCounter {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    val (r, jobs) = descriptions(sc)(f)
    (r, jobs.size)
  }

  /** The description of every job the block starts, in start order;
    * "" for a job without one. */
  def descriptions[T](sc: SparkContext)(f: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
          .getOrElse(""))
        ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The rows the block's tasks read from their input sources (task
    * input metrics), summed over every task it runs. */
  def recordsRead[T](sc: SparkContext)(f: => T): (T, Long) = {
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, read.get)
    } finally sc.removeSparkListener(listener)
  }
}
