package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block of driver code launches: every job start
  * (shuffle map stages and broadcasts under AQE included) posted while the
  * block runs. Listener events arrive asynchronously and the bus's drain
  * is package-private, hence this package.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val result = listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(body)
    (result, jobs.get)
  }

  /** The input records (file scans' `recordsRead`) the tasks of a block
    * read: a plan that runs its upstream twice reads its input twice.
    */
  def inputRecords[T](sc: SparkContext)(body: => T): (T, Long) = {
    val records = new AtomicLong
    val result = listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(body)
    (result, records.get)
  }

  private def listening[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      result
    } finally sc.removeSparkListener(listener)
  }
}
