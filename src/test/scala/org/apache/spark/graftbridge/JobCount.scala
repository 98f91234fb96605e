package org.apache.spark.graftbridge

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits, for specs that pin "no job"
  * or "one job". The block runs under a fresh job group, which threads
  * it starts inherit, and only jobs of that group are counted, so a job
  * from anything else running in the JVM is not. The listener bus is
  * delivered asynchronously and its drain is package-private in Spark,
  * hence this package: the bus is drained after the block so none of
  * its jobs is missed. */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group) {
          n.incrementAndGet(); ()
        }
    }
    val prev = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, group)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, prev)
      sc.removeSparkListener(listener)
    }
  }
}
