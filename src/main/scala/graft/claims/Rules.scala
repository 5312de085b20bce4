package graft.claims

import java.time.LocalDate

/** Business-rule constants and run configuration.
  *
  * Constants mirror the reference's module-level config
  * (claim_pipeline.py:33-43); the engine makes them injectable so
  * golden outputs stay reproducible (SURVEY.md §1.4).
  */
object Rules {
  /** Exact-match (lowercased) retryable denial reasons (claim_pipeline.py:34). */
  val Retryable: Seq[String] =
    Seq("missing modifier", "incorrect npi", "prior auth required")

  /** Exact-match (lowercased) non-retryable reasons (claim_pipeline.py:35). */
  val NonRetryable: Seq[String] =
    Seq("authorization expired", "incorrect provider type")

  /** Substring-containment keywords that infer retryability
    * (claim_pipeline.py:129; fires inside longer sentences — SURVEY §2.3 S5).
    */
  val RetryableKeywords: Seq[String] =
    Seq("incorrect procedure", "form incomplete", "not billable")

  /** reason(lowercased) -> recommended change (claim_pipeline.py:36-43). */
  val Recommendations: Map[String, String] = Map(
    "missing modifier" -> "Add correct CPT modifier, resubmit",
    "incorrect npi" -> "Review provider NPI, correct and resubmit",
    "prior auth required" -> "Obtain/attach prior authorization and resubmit",
    "incorrect procedure" -> "Verify CPT/HCPCS code mapping, correct if needed and resubmit",
    "form incomplete" -> "Fill missing fields and resubmit",
    "not billable" -> "Confirm coverage/payer policy; update claim or appeal",
  )

  /** Fallback recommendation (claim_pipeline.py:149-150). */
  val DefaultRecommendation: String =
    "Review claim details, supply missing info and resubmit"

  /** Fixed reference date — NOT wall clock (claim_pipeline.py:33). */
  val DefaultToday: LocalDate = LocalDate.of(2025, 7, 30)

  /** Eligibility age threshold in days; strict `>` (claim_pipeline.py:76). */
  val DefaultMinAgeDays: Int = 7
}

/** Injectable pipeline configuration.
  *
  * @param today            fixed "today" for the age rule (SURVEY §2.3 S13)
  * @param minAgeDays       claims must be strictly older than this many days
  * @param bugCompatMetrics reproduce the reference's live counter-key bug
  *                         (SURVEY §2.3 S9): when true, the not-denied /
  *                         patient-missing / non-retryable exclusion buckets
  *                         are rerouted into `malformed`, as the reference's
  *                         swallowed KeyError actually does.
  * @param bugCompatFileAbort reproduce the reference's file-abort behavior
  *                         (S11, claim_pipeline.py:213-215): a record the
  *                         loader raises on keeps the file's PRIOR rows,
  *                         counts `malformed` once, and silently drops the
  *                         rest of the file — instead of the default
  *                         per-record recovery. Beta type-error raises are
  *                         re-derived via a VARIANT re-parse
  *                         (Normalize.betaRawLoaderParity); alpha CSV has
  *                         no Spark-detectable mid-file raise (csv-module
  *                         errors such as NUL bytes — documented
  *                         divergence). Finds each file's first corrupt
  *                         row by the input-order keys every run carries.
  */
final case class PipelineConfig(
    today: LocalDate = Rules.DefaultToday,
    minAgeDays: Int = Rules.DefaultMinAgeDays,
    bugCompatMetrics: Boolean = false,
    bugCompatFileAbort: Boolean = false,
)
