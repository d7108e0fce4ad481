package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shim

/** Counts the Spark jobs a block of test code starts. */
object JobCount {

  /** Runs `body` and returns its result with the number of Spark jobs
    * started while it ran. The listener bus is drained before the
    * counter is added and again before it is read, so neither an
    * earlier job's late event nor the block's own last one is miscounted. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Shim.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Shim.waitListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
