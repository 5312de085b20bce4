package graft.claims

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The order-preserving path reads every file split-parallel and restores
  * input order on the driver. These specs pin that the outputs do not
  * depend on how a file is split, and that the candidate job stays one
  * exchange-free stage that runs one task per split.
  */
class ClaimSplitParitySpec extends AnyFunSuite with Eventually
    with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark

  private val Rows = 4000
  private val Header =
    "claim_id,patient_id,procedure_code,denial_reason,submitted_at,status\n"

  /** Alpha rows in id order (`<prefix><5-digit index>`), cycling every
    * classifier branch: retryable reasons, non-retryable, "None", quoted
    * reasons with commas, missing patients, recent and unparseable dates,
    * non-denied and mixed-case statuses.
    */
  private def mixedAlpha(prefix: String): String = {
    val reasons = Seq("Missing modifier", "Incorrect NPI", "Prior auth required",
      "Authorization expired", "None", "\"form incomplete, page 2\"", "",
      "Incorrect provider type", "\"not billable, see policy\"",
      "something else entirely")
    val sb = new StringBuilder(Header)
    (0 until Rows).foreach { i =>
      val patient = if (i % 13 == 0) "" else s"P$i"
      val date =
        if (i % 17 == 0) "bad-date" else if (i % 5 == 0) "2025-07-25"
        else "2025-07-01"
      val status =
        if (i % 7 == 0) "approved" else if (i % 11 == 0) " DENIED " else "denied"
      sb ++= f"$prefix$i%05d,$patient,99213,${reasons(i % reasons.size)},$date,$status\n"
    }
    sb.result()
  }

  /** Every row excluded, a quarter by each of the four exclusion rules. */
  private def excludedAlpha: String = {
    val sb = new StringBuilder(Header)
    (0 until Rows).foreach { i =>
      sb ++= (i % 4 match {
        case 0 => f"X$i%05d,P$i,99213,Missing modifier,2025-07-01,approved\n"
        case 1 => f"X$i%05d,,99213,Missing modifier,2025-07-01,denied\n"
        case 2 => f"X$i%05d,P$i,99213,Missing modifier,2025-07-25,denied\n"
        case _ => f"X$i%05d,P$i,99213,Authorization expired,2025-07-01,denied\n"
      })
    }
    sb.result()
  }

  // Its second record raises in the reference loader: under
  // bugCompatFileAbort the file keeps B1 and drops B3.
  private val betaProbe =
    """[
      |  {"id": "B1", "member": "P1", "code": "99213", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
      |  {"id": 123, "member": "P2", "code": "99214", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
      |  {"id": "B3", "member": "P3", "code": "99215", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"}
      |]""".stripMargin

  private lazy val dir: Path = Files.createTempDirectory("graft-claims-split")

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private lazy val mixedFiles = Seq(write("a1.csv", mixedAlpha("A")),
    write("b.json", betaProbe), write("a2.csv", mixedAlpha("C")))
  private lazy val excludedFile = write("x.csv", excludedAlpha)

  // 32 KiB splits: each ~170 KB test CSV scans as 5+ partitions.
  private def multiSplit[T](body: => T): T = graft.TestSpark.withConfs(
    "spark.sql.files.maxPartitionBytes" -> "32768",
    "spark.sql.files.openCostInBytes" -> "1024")(body)

  private def scanPartitions(csv: String): Int =
    spark.read.option("header", "true").csv(csv).rdd.getNumPartitions

  /** Runs the pipeline; returns the candidate ids, the candidates file and
    * the metrics log, and the metrics.
    */
  private def run(files: Seq[String], config: PipelineConfig) = {
    val out = Files.createTempDirectory(dir, "out")
    val r = ClaimPipeline.run(spark, files, config,
      outputPath = out.resolve("cands.json").toString,
      metricsPath = out.resolve("metrics.log").toString)
    (r.candidates.map(_.getString(0)),
      Files.readString(Path.of(r.outputPath)),
      Files.readString(Path.of(r.metricsPath)), r.metrics)
  }

  for ((mode, config) <- Seq("default" -> PipelineConfig(),
      "bugCompatFileAbort" -> PipelineConfig(bugCompatFileAbort = true))) {
    test(s"multi-split read writes the same bytes as a one-split read ($mode)") {
      val (ids, cands, metrics, m) = multiSplit {
        mixedFiles.filter(_.endsWith(".csv"))
          .foreach(f => assert(scanPartitions(f) >= 4))
        run(mixedFiles, config)
      }
      mixedFiles.filter(_.endsWith(".csv"))
        .foreach(f => assert(scanPartitions(f) === 1))
      val (ids1, cands1, metrics1, _) = run(mixedFiles, config)

      assert(cands === cands1)
      assert(metrics === metrics1)
      // Input order: files in argument order, rows in file order (the ids
      // are numbered in file order and sort that way within each prefix).
      assert(ids === ids1)
      val (a1, rest) = ids.span(_.startsWith("A"))
      val (b, a2) = rest.span(!_.startsWith("C"))
      assert(a1.nonEmpty && a2.nonEmpty)
      assert(a1 === a1.sorted && a2 === a2.sorted)
      assert(b === (if (config.bugCompatFileAbort) Seq("B1") else Seq("B1", "123", "B3")))
      assert(m.flaggedForResubmission === ids.size)
      assert(PipelineMetrics.BucketOrder.dropRight(1)
        .forall(r => m.excludedByReason(r) > 0), m.excludedByReason)
    }

    test(s"multi-split input with every row excluded keeps exact counts ($mode)") {
      val (ids, cands, _, m) = multiSplit {
        assert(scanPartitions(excludedFile) >= 4)
        run(Seq(excludedFile), config)
      }
      assert(ids.isEmpty && cands === "[]")
      assert(m.totalProcessed === Rows)
      assert(m.flaggedForResubmission === 0)
      assert(m.excludedByReason === Map(
        "not_denied_status" -> Rows / 4, "patient_id_missing" -> Rows / 4,
        "too_recent" -> Rows / 4, "non-retryable_or_ambiguous" -> Rows / 4,
        "malformed" -> 0))
    }
  }

  test("candidate job: no exchange, and the scan runs one task per split") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val qeListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val group = "claim-split-shape"
    val stageTasks = new ConcurrentLinkedQueue[Integer]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageInfos.foreach(s => stageTasks.add(s.numTasks))
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    spark.sparkContext.setJobGroup(group, "split shape")
    try {
      multiSplit(run(Seq(excludedFile), PipelineConfig()))
      eventually(timeout(30.seconds)) {
        val candidatePlans =
          plans.asScala.filter(p => find(p)(_.isInstanceOf[CollectMetricsExec]).nonEmpty)
        assert(candidatePlans.size === 1)
        assert(find(candidatePlans.head)(_.isInstanceOf[Exchange]).isEmpty,
          candidatePlans.head.treeString)
        assert(stageTasks.asScala.map(_.intValue).max > 1)
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}
