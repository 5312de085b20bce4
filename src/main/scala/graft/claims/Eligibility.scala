package graft.claims

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Denial classification, eligibility filter, exclusion attribution, and
  * recommendation enrichment — reference claim_pipeline.py:120-150, 200-210.
  *
  * Everything is built-in Column expressions (CASE WHEN chains), so branch
  * order exactly reproduces the reference's short-circuit rule ordering and
  * the whole thing stays inside whole-stage codegen.
  */
object Eligibility {

  /** 3-way denial classifier (claim_pipeline.py:120-131):
    * null → ambiguous; exact (lowercased) RETRYABLE → retryable; exact
    * NON_RETRYABLE → non-retryable; substring containment of any inferred
    * keyword → retryable (fires inside longer sentences, SURVEY §2.3 S5);
    * else ambiguous.
    */
  def classifyDenial(reason: Column): Column = {
    val r = lower(reason)
    val kwHit = Rules.RetryableKeywords
      .map(kw => r.contains(kw))
      .reduce(_ || _)
    when(reason.isNull, "ambiguous")
      .when(r.isin(Rules.Retryable: _*), "retryable")
      .when(r.isin(Rules.NonRetryable: _*), "non-retryable")
      .when(kwHit, "retryable")
      .otherwise("ambiguous")
  }

  /** Strict age predicate: null date → false; (today − d) > minAgeDays
    * (claim_pipeline.py:71-76; exactly-7-days-old fails, SURVEY §2.3 S2).
    */
  def olderThan(submittedAt: Column, config: PipelineConfig): Column = {
    val today = lit(java.sql.Date.valueOf(config.today))
    coalesce(datediff(today, submittedAt) > config.minAgeDays, lit(false))
  }

  /** Recommendation lookup on lower(reason), with fallback
    * (claim_pipeline.py:147-150). A constant-map lookup — `element_at` on a
    * MapType literal returns null on miss, coalesced to the default.
    */
  def recommendedChanges(reason: Column): Column = {
    val recMap = typedLit(Rules.Recommendations)
    coalesce(
      element_at(recMap, lower(reason)),
      lit(Rules.DefaultRecommendation))
  }

  /** Attach `classification`, `eligible`, `exclusion_reason` derived columns
    * — the one statement of the eligibility conjunction and the exclusion
    * chain.
    *
    * `eligible` (claim_pipeline.py:134-145): denied status ∧ patient present
    * ∧ old enough ∧ classifier says retryable, coalesced to false so a null
    * status yields false like the Python predicate, not SQL-null.
    * `exclusion_reason` is the FIRST failing rule in the reference's order
    * (claim_pipeline.py:203-210; SURVEY §2.3 S8): not-denied →
    * patient-missing → too-recent → non-retryable-or-ambiguous; null for
    * eligible rows.
    *
    * The classifier and age predicate are computed ONCE as intermediate
    * columns and referenced by the downstream expressions — restating them
    * inside each derived column quadruples the expression tree and was
    * measured to cost ~3s of whole-stage codegen compilation alone.
    * CollapseProject keeps non-cheap multiply-referenced aliases in their
    * own projection, so the shared subtrees stay shared in the generated
    * code.
    */
  def withDerived(claims: DataFrame, config: PipelineConfig): DataFrame =
    claims
      .withColumn("classification", classifyDenial(claims("denial_reason")))
      .withColumn("_old", olderThan(claims("submitted_at"), config))
      .withColumn("eligible",
        coalesce(
          col("status") === "denied" &&
            col("patient_id").isNotNull &&
            col("_old") &&
            col("classification") === "retryable",
          lit(false)))
      .withColumn("exclusion_reason",
        when(col("eligible"), lit(null).cast("string"))
          .when(col("status").isNull || col("status") =!= "denied",
            "not_denied_status")
          .when(col("patient_id").isNull, "patient_id_missing")
          .when(!col("_old"), "too_recent")
          .otherwise("non-retryable_or_ambiguous"))
      .drop("_old")

  /** Candidate output projection (claim_pipeline.py:194-199) over a
    * [[withDerived]] frame: the eligible, non-corrupt rows as `claim_id`,
    * `resubmission_reason`, `source_system`, `recommended_changes`. The
    * reason keeps its original (trimmed) casing — SURVEY §2.3 S6. `keys`
    * columns ride along after those four (the pipeline's input-order keys).
    */
  def candidates(derived: DataFrame, keys: String*): DataFrame =
    derived
      .filter(col("eligible") && !col("_corrupt"))
      .select(Seq(
        col("claim_id"),
        col("denial_reason").as("resubmission_reason"),
        col("source_system"),
        recommendedChanges(col("denial_reason")).as("recommended_changes"),
      ) ++ keys.map(col): _*)
}
