package graft.claims

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Golden-parity + edge-rule tests against behavior verified by executing the
  * reference (FIXTURES.md §2-§3; SURVEY.md §2.3 S1-S15). Fixtures mirror the
  * reference's checked-in sample data.
  */
class ClaimPipelineSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val alphaCsv =
    """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
      |A123,P001,99213,Missing modifier,2025-07-01,denied
      |A124,P002,99214,Incorrect NPI,2025-07-10,denied
      |A125,,99215,Authorization expired,2025-07-05,denied
      |A126,P003,99381,None,2025-07-15,approved
      |A127,P004,99401,Prior auth required,2025-07-20,denied
      |""".stripMargin

  private val betaJson =
    """[
      |  {"id": "B987", "member": "P010", "code": "99213",
      |   "error_msg": "Incorrect provider type", "date": "2025-07-03T00:00:00", "status": "denied"},
      |  {"id": "B988", "member": "P011", "code": "99214",
      |   "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
      |  {"id": "B989", "member": "P012", "code": "99215",
      |   "error_msg": null, "date": "2025-07-10T00:00:00", "status": "approved"},
      |  {"id": "B990", "member": null, "code": "99401",
      |   "error_msg": "incorrect procedure", "date": "2025-07-01T00:00:00", "status": "denied"}
      |]""".stripMargin

  private def tmpDir(): Path = Files.createTempDirectory("graft-claims")

  private def write(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def runPipeline(files: Seq[String], config: PipelineConfig = PipelineConfig()) = {
    val out = tmpDir()
    ClaimPipeline.run(spark, files, config,
      outputPath = out.resolve("cands.json").toString,
      metricsPath = out.resolve("metrics.log").toString)
  }

  test("combined run matches reference goldens (4 candidates, in input order)") {
    val dir = tmpDir()
    val result = runPipeline(Seq(
      write(dir, "emr_alpha.csv", alphaCsv), write(dir, "emr_beta.json", betaJson)))

    val got = result.candidates.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got === Seq(
      ("A123", "Missing modifier", "alpha", "Add correct CPT modifier, resubmit"),
      ("A124", "Incorrect NPI", "alpha", "Review provider NPI, correct and resubmit"),
      ("A127", "Prior auth required", "alpha", "Obtain/attach prior authorization and resubmit"),
      ("B988", "Missing modifier", "beta", "Add correct CPT modifier, resubmit"),
    ))

    val m = result.metrics
    assert(m.totalProcessed === 9)
    assert(m.bySource === Map("alpha" -> 5, "beta" -> 4))
    assert(m.flaggedForResubmission === 4)
    // Intended semantics (first-failing-rule order, SURVEY §2.3 S8):
    // A126+B989 approved; A125+B990 patient missing; B987 non-retryable.
    assert(m.excludedByReason === Map(
      "not_denied_status" -> 2, "patient_id_missing" -> 2, "too_recent" -> 0,
      "non-retryable_or_ambiguous" -> 1, "malformed" -> 0))
  }

  test("combined run with bugCompatMetrics reproduces as-implemented routing (S9)") {
    val dir = tmpDir()
    val result = runPipeline(
      Seq(write(dir, "a.csv", alphaCsv), write(dir, "b.json", betaJson)),
      PipelineConfig(bugCompatMetrics = true))
    // Verified by executing the reference: malformed 5, too_recent 0, rest 0.
    assert(result.metrics.excludedByReason === Map(
      "not_denied_status" -> 0, "patient_id_missing" -> 0, "too_recent" -> 0,
      "non-retryable_or_ambiguous" -> 0, "malformed" -> 5))
  }

  test("CLI env contract: GRAFT_BUG_COMPAT_* flags reach the pipeline " +
      "config, and the metrics-mode run reproduces malformed: 5") {
    assert(Main.configFromEnv(Map.empty) === PipelineConfig(),
      "no env → library defaults")
    val cfg = Main.configFromEnv(Map(
      "GRAFT_BUG_COMPAT_METRICS" -> "true",
      "GRAFT_BUG_COMPAT_FILE_ABORT" -> "true"))
    assert(cfg.bugCompatMetrics && cfg.bugCompatFileAbort)
    // the exact config the CLI builds under GRAFT_BUG_COMPAT_METRICS=true
    // reproduces the reference's counter-key routing on the sample data
    val dir = tmpDir()
    val result = ClaimPipeline.run(spark,
      Seq(write(dir, "a.csv", alphaCsv), write(dir, "b.json", betaJson)),
      config = Main.configFromEnv(Map("GRAFT_BUG_COMPAT_METRICS" -> "true")),
      outputPath = s"$dir/cands.json", metricsPath = s"$dir/metrics.log")
    assert(result.metrics.excludedByReason("malformed") === 5)
  }

  test("beta-only run is byte-identical to the reference's checked-in outputs") {
    val dir = tmpDir()
    val result = runPipeline(Seq(write(dir, "emr_beta.json", betaJson)),
      PipelineConfig(bugCompatMetrics = true))

    val candsBytes = new String(
      Files.readAllBytes(Path.of(result.outputPath)), StandardCharsets.UTF_8)
    // Reference resubmission_candidates.json (json.dump indent=2).
    assert(candsBytes ===
      """[
        |  {
        |    "claim_id": "B988",
        |    "resubmission_reason": "Missing modifier",
        |    "source_system": "beta",
        |    "recommended_changes": "Add correct CPT modifier, resubmit"
        |  }
        |]""".stripMargin)

    val metricsText = new String(
      Files.readAllBytes(Path.of(result.metricsPath)), StandardCharsets.UTF_8)
    // Reference pipeline_metrics.log from the same run (bug S9 visible).
    assert(metricsText ===
      """===== Pipeline Metrics Summary =====
        |Total processed: 4
        |By source: {'alpha': 0, 'beta': 4}
        |Flagged for resubmission: 1
        |Excluded by reason:
        |  - not_denied_status: 0
        |  - patient_id_missing: 0
        |  - too_recent: 0
        |  - non-retryable_or_ambiguous: 0
        |  - malformed: 3
        |""".stripMargin)
  }

  test("edge rules S1-S8: boundary date, scrub, substring classify, case-folding") {
    val edgeCsv =
      """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
        |E1,P001,99213,Missing modifier,2025-07-23,denied
        |E2,P002,99213,Missing modifier,2025-07-22,denied
        |E3,P003,99213,"  none  ",2025-07-15,denied
        |E4,P004,99213,This claim was not billable per policy,2025-07-01,denied
        |E5,P005,99213,Missing modifier,bad-date,denied
        |E6,P006,99213,Missing modifier,2025-07-01,DENIED
        |E7,P007,99213,FORM INCOMPLETE,2025-07-01,denied
        |E8,,99213,,2025-07-01,approved
        |""".stripMargin
    val dir = tmpDir()
    val result = runPipeline(Seq(write(dir, "edge.csv", edgeCsv)))

    val ids = result.candidates.map(_.getString(0))
    assert(ids === Seq("E2", "E4", "E6", "E7"))

    val byId = result.candidates.map(r => r.getString(0) -> r).toMap
    // S5+S6+S7: substring-retryable keeps verbatim reason, default rec.
    assert(byId("E4").getString(1) === "This claim was not billable per policy")
    assert(byId("E4").getString(3) === "Review claim details, supply missing info and resubmit")
    // S6+S7: original casing preserved; lookup is case-insensitive.
    assert(byId("E7").getString(1) === "FORM INCOMPLETE")
    assert(byId("E7").getString(3) === "Fill missing fields and resubmit")

    val m = result.metrics
    assert(m.totalProcessed === 8)
    assert(m.flaggedForResubmission === 4)
    // E1 exactly-7-days (S2) + E5 unparseable date (S3) → too_recent;
    // E3 scrubbed "none" (S4) → ambiguous; E8 first-failing = not_denied (S8).
    assert(m.excludedByReason === Map(
      "not_denied_status" -> 1, "patient_id_missing" -> 0, "too_recent" -> 2,
      "non-retryable_or_ambiguous" -> 1, "malformed" -> 0))
  }

  test("S4 asymmetry: beta string \"None\" is NOT scrubbed (classifies ambiguous)") {
    val beta =
      """[{"id": "N1", "member": "P1", "code": "1", "error_msg": "None",
        |  "date": "2025-07-01", "status": "denied"}]""".stripMargin
    val dir = tmpDir()
    val result = runPipeline(Seq(write(dir, "n.json", beta)))
    assert(result.candidates.isEmpty)
    assert(result.metrics.excludedByReason("non-retryable_or_ambiguous") === 1)
  }

  test("S10: unsupported extension warned + skipped with no metrics effect") {
    val dir = tmpDir()
    val result = runPipeline(Seq(
      write(dir, "x.txt", "not a claim file"), write(dir, "b.json", betaJson)))
    assert(result.metrics.totalProcessed === 4)
    assert(result.metrics.excludedByReason("malformed") === 0)
  }

  test("file-level error isolation: unreadable file counts malformed once") {
    val dir = tmpDir()
    val result = runPipeline(Seq(
      dir.resolve("missing.csv").toString, write(dir, "b.json", betaJson)))
    assert(result.metrics.totalProcessed === 4)
    assert(result.metrics.excludedByReason("malformed") === 1)
  }

  test("a directory or a glob as a CSV path counts one malformed file") {
    // Spark would list both and read the CSV files in them; the reference
    // opens the path as one file, which fails.
    val dir = tmpDir()
    val csvDir = Files.createDirectory(dir.resolve("x.csv"))
    write(csvDir, "part.csv", alphaCsv)
    val globbed = Files.createDirectory(dir.resolve("g"))
    write(globbed, "a.csv", alphaCsv)
    for (path <- Seq(csvDir.toString, globbed.resolve("*.csv").toString)) {
      val result = runPipeline(Seq(path, write(dir, "b.json", betaJson)))
      assert(result.metrics.totalProcessed === 4, path)
      assert(result.metrics.bySource("alpha") === 0, path)
      assert(result.metrics.excludedByReason("malformed") === 1, path)
    }
  }

  test("S11 bugCompatFileAbort: first raising record aborts the rest of the file") {
    // Verified by executing the reference on this exact probe: the
    // non-string "id": 123 makes load_beta's .strip() raise mid-iteration,
    // so row 1 is processed+flagged, malformed counts once, and row 3 is
    // never seen (total 1 / beta 1 / flagged 1 / malformed 1, candidates
    // = [B1]).
    val probe =
      """[
        |  {"id": "B1", "member": "P1", "code": "99213", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
        |  {"id": 123, "member": "P2", "code": "99214", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
        |  {"id": "B3", "member": "P3", "code": "99215", "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"}
        |]""".stripMargin
    val dir = tmpDir()
    val file = write(dir, "probe.json", probe)

    val result = runPipeline(Seq(file), PipelineConfig(bugCompatFileAbort = true))
    assert(result.candidates.map(_.getString(0)) === Seq("B1"))
    val m = result.metrics
    assert(m.totalProcessed === 1)
    assert(m.bySource === Map("alpha" -> 0, "beta" -> 1))
    assert(m.flaggedForResubmission === 1)
    assert(m.excludedByReason("malformed") === 1)

    // Default mode (per-record recovery): the same file yields all 3 rows
    // — the coerced "123" id round-trips as a string, nothing is corrupt.
    val recovered = runPipeline(Seq(file))
    assert(recovered.candidates.map(_.getString(0)) === Seq("B1", "123", "B3"))
    assert(recovered.metrics.totalProcessed === 3)
    assert(recovered.metrics.excludedByReason("malformed") === 0)
  }

  test("S11 bugCompatFileAbort is a no-op on clean inputs (alpha + beta)") {
    // The abort mode reroutes beta loading through the VARIANT re-parse;
    // on raise-free files both modes must agree exactly — candidates,
    // order, and every metric.
    val dir = tmpDir()
    val files = Seq(
      write(dir, "a.csv", alphaCsv), write(dir, "b.json", betaJson))
    val normal = runPipeline(files)
    val abort = runPipeline(files, PipelineConfig(bugCompatFileAbort = true))
    assert(abort.candidates.map(_.toSeq) === normal.candidates.map(_.toSeq))
    assert(abort.metrics === normal.metrics)
    assert(abort.metrics.totalProcessed === 9)
  }

  test("a CSV + JSON run is one Spark job: the candidate job") {
    val dir = tmpDir()
    val files = Seq(write(dir, "a.csv", alphaCsv), write(dir, "b.json", betaJson))
    val (result, jobs) = graft.JobCounter(spark)(runPipeline(files))
    assert(result.candidates.map(_.getString(0)) ===
      Seq("A123", "A124", "A127", "B988"))
    assert(jobs === 1)
  }

  test("empty input list yields empty outputs") {
    val result = runPipeline(Seq.empty)
    assert(result.candidates.isEmpty)
    assert(result.metrics.totalProcessed === 0)
  }
}
