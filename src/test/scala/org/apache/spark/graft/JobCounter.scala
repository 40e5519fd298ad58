package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus delivers
  * events asynchronously, so it is drained before and after the block;
  * draining needs `listenerBus`, which is `private[spark]`, hence this
  * package.
  */
object JobCounter {
  def jobsIn[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
