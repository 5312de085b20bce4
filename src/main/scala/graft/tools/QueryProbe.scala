package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev-only measurement harness (guide §1: measure first).
  *
  * Runs named queries exactly the way Bench does (same session configs,
  * same count() action) but attaches a listener that splits each
  * iteration's wall time into scheduled-job time vs driver-only gaps
  * (planning / optimization / collect), and totals stages, tasks, and
  * shuffle bytes. The UI is disabled in this environment, so this is the
  * stand-in for the Stages/SQL tabs.
  *
  * Usage: QueryProbe <name>[,<name>...] [iters]
  * Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = graft.GraftSession.builder("graft-query-probe")
    // hypothesis testing: PROBE_CONF="key=value;key=value" extra confs
    sys.env.get("PROBE_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var jobMs = 0L
    @volatile var taskMs = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    val jobStart = mutable.Map[Int, Long]()
    val stageDetail = mutable.ArrayBuffer[(Int, String, Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.synchronized { jobStart(js.jobId) = js.time }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.synchronized {
          jobs += 1
          jobMs += je.time - jobStart.getOrElse(je.jobId, je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
        taskMs += sc.stageInfo.taskMetrics.executorRunTime
        shufWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        shufRead += sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        stageDetail.synchronized {
          val m = sc.stageInfo.taskMetrics
          stageDetail += ((sc.stageInfo.stageId,
            f"r=${m.shuffleReadMetrics.totalBytesRead / 1048576}%dMB " +
              f"w=${m.shuffleWriteMetrics.bytesWritten / 1048576}%dMB " +
              sc.stageInfo.name.take(44),
            sc.stageInfo.numTasks, m.executorRunTime))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val its = (1 to iters).map { i =>
        jobs = 0; stages = 0; tasks = 0; jobMs = 0; taskMs = 0
        shufWrite = 0; shufRead = 0
        stageDetail.synchronized(stageDetail.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e6
        spark.catalog.clearCache()
        // let listener events drain before reading the counters
        Thread.sleep(400)
        if (i == iters && sys.env.contains("PROBE_STAGES"))
          stageDetail.synchronized(stageDetail.sortBy(-_._4).take(15)
            .foreach { case (id, nm, tk, ms) =>
              println(f"  STAGE $id%5d ${ms / 1000.0}%8.3fs tasks=$tk%-4d $nm") })
        (wall, jobs, stages, tasks, jobMs, taskMs, shufRead)
      }
      its.zipWithIndex.foreach { case ((wall, j, st, tk, jm, tm, sr), i) =>
        println(f"PROBE $name iter=$i wall=${wall / 1000}%.3fs jobs=$j " +
          f"stages=$st tasks=$tk jobTime=${jm / 1000.0}%.3fs " +
          f"taskTime=${tm / 1000.0}%.3fs driverGap=${(wall - jm) / 1000}%.3fs " +
          f"shufRead=${sr / 1024}KiB")
      }
      val best = its.minBy(_._1)
      println(f"PROBE $name BEST wall=${best._1 / 1000}%.3fs jobs=${best._2} " +
        f"stages=${best._3} tasks=${best._4} jobTime=${best._5 / 1000.0}%.3fs " +
        f"driverGap=${(best._1 - best._5) / 1000}%.3fs")
    }
    spark.stop()
  }
}
