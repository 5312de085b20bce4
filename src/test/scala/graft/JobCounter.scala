package org.apache.spark {

  /** Test access to the private[spark] listener bus. */
  object TestListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.TestListenerBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  /** Counts the Spark jobs a block starts. Every job that starts between
    * the two bus drains counts, whatever thread submitted it (broadcast
    * exchanges run in their own job group), so callers must not run
    * other Spark work concurrently.
    */
  object JobCounter {
    def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
      val sc = spark.sparkContext
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      TestListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try {
        val out = body
        TestListenerBus.drain(sc)
        (out, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
  }
}
