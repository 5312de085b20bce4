package graft.queries

import org.apache.spark.TestListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** `Par` legs: results come back in order, the calling thread's job
  * group is restored, and a failing leg leaves no other leg running.
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def activeJobs: Seq[Int] = {
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.statusTracker.getActiveJobIds.toSeq
  }

  /** A job of four tasks that each sleep up to a minute. */
  private def slowJob(): Long =
    spark.sparkContext.parallelize(0 until 4, 4)
      .map { x => Thread.sleep(60000); x }.count()

  /** Blocks until some Spark job is running, then throws. */
  private def failOnceBusy(): Nothing = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    throw new IllegalStateException("leg failed")
  }

  test("legs return in order and the caller's job group is restored") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try {
      val got = Par.all4(spark)(1, "b", spark.range(10).count(),
        spark.range(5).count())
      assert(got === ((1, "b", 10L, 5L)))
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
    } finally sc.clearJobGroup()
  }

  test("a failing calling-thread leg cancels and joins the forked legs") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.all3(spark)(failOnceBusy(), slowJob(), slowJob())
    }
    assert(e.getMessage === "leg failed")
    assert(activeJobs.isEmpty, "a forked leg is still running jobs")
    assert((System.nanoTime() - t0) / 1e9 < 50, "legs were not cancelled")
  }

  test("a failing forked leg cancels the calling-thread leg") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.both(spark)(slowJob(), failOnceBusy())
    }
    assert(e.getMessage === "leg failed")
    assert(activeJobs.isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 50, "the leg was not cancelled")
  }

  test("a leg that has not submitted its job yet never runs it") {
    val e = intercept[IllegalStateException] {
      Par.both(spark)(throw new IllegalStateException("leg failed"),
        { Thread.sleep(500); slowJob() })
    }
    assert(e.getMessage === "leg failed")
    Thread.sleep(1000) // past the moment the leg would submit its job
    assert(activeJobs.isEmpty)
  }
}
