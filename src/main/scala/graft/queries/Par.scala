package graft.queries

import java.util.UUID
import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Guide §2.6 (overlap independent jobs): the audit-style queries build
  * several INDEPENDENT legs — an index/graph build chain, an exact
  * ground-truth panel, a baseline walk — and each leg materializes
  * eagerly (localCheckpoint / persist+count) so the final report plan
  * costs its legs once. Submitted from one driver thread those legs run
  * strictly one after another, and each is a chain of small stages that
  * leaves most cores idle (the c8-vs-c32 bench runs show the walks
  * FASTER at 8 cores — scheduler-bound, not compute-bound). Running the
  * legs from separate driver threads lets Spark's FIFO scheduler
  * back-fill the idle cores with the other leg's tasks, exactly the
  * thread-pool device the optimization guide recommends for independent
  * jobs. Results are unchanged: every leg is the same deterministic
  * plan; only the submission order is concurrent, and we join all legs
  * before anything downstream consumes them.
  *
  * Failure: each leg runs in its own Spark job group. The first leg to
  * throw cancels the other legs' groups, their future jobs included; all
  * legs are joined, and then the first error is rethrown. So no leg is
  * still running jobs when the caller sees the error (and, say, clears
  * the cache).
  */
private[queries] object Par {

  /** The local properties `setJobGroup` sets. */
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Runs `legs(0)` on the calling thread and every other leg on a pool
    * thread; returns their results in order once all are done.
    */
  private def run(spark: SparkSession, legs: Seq[() => Any]): Seq[Any] = {
    val sc = spark.sparkContext
    val groups = legs.map(_ => s"graft-par-${UUID.randomUUID}")
    val firstError = new AtomicReference[Throwable]()
    def leg(i: Int): Any = {
      val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(groups(i), s"Par leg $i", interruptOnCancel = true)
      try legs(i)()
      catch { case e: Throwable =>
        if (firstError.compareAndSet(null, e))
          groups.patch(i, Nil, 1).foreach(sc.cancelJobGroupAndFutureJobs)
        throw e
      } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val forked = legs.indices.tail.map(i => CompletableFuture.supplyAsync { () =>
      // Active session is thread-local; pin it so any code path that
      // resolves SparkSession.getActiveSession sees the right one.
      SparkSession.setActiveSession(spark)
      leg(i)
    })
    val first = Try(leg(0))
    val rest = forked.map(f => Try(f.join()))
    Option(firstError.get).foreach(e => throw e)
    // a leg's error is recorded before it escapes, so all legs succeeded
    first.get +: rest.map(_.get)
  }

  /** Materialize two independent legs concurrently. `a` runs on the
    * calling thread, `b` on a pool thread; returns after BOTH complete.
    */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = run(spark, Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Three-way variant: `a` on the calling thread, `b`/`c` on pool
    * threads. */
  def all3[A, B, C](spark: SparkSession)(a: => A, b: => B, c: => C)
      : (A, B, C) = {
    val Seq(ra, rb, rc) = run(spark, Seq(() => a, () => b, () => c))
    (ra.asInstanceOf[A], rb.asInstanceOf[B], rc.asInstanceOf[C])
  }

  /** Four-way variant (s45/s46-shaped audits: build, baseline build,
    * routing layer, exact panel). */
  def all4[A, B, C, D](spark: SparkSession)(
      a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val Seq(ra, rb, rc, rd) =
      run(spark, Seq(() => a, () => b, () => c, () => d))
    (ra.asInstanceOf[A], rb.asInstanceOf[B], rc.asInstanceOf[C],
      rd.asInstanceOf[D])
  }
}
