package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.claims.{Eligibility, Normalize, PipelineConfig, Rules}

/** The reference's operator inventory (SURVEY.md §2.1 O5-O16) exercised as
  * driver-checkable queries over the harness testdata: claim-shaped inputs
  * are synthesized deterministically from `orders`/`part` with the SAME
  * expression on the Spark and DuckDB sides, then the engine's actual library
  * operators (Normalize/Eligibility) run on top. Every query has an ANSI-SQL
  * oracle and a total ORDER BY for determinism.
  */
object ClaimOps {
  import Tables.t

  // ---- synthesized claim-shaped input (orders → claims) ----
  // Covers every classifier branch: exact retryable (0,1), exact
  // non-retryable (2,6), substring-inferred (3,7), null (4), other (5);
  // patient missing every 7th; ~1/3 not denied; ages 0..14 days around the
  // strict 7-day boundary.

  private def synthClaims(spark: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    t(spark, dir, "orders").select(
      k.as("claim_key"),
      when(k % 7 === 0, lit(null)).otherwise(concat(lit("P"), col("o_custkey")))
        .as("patient_id"),
      when(k % 3 === 1, lit("approved")).otherwise(lit("denied")).as("status"),
      date_sub(to_date(lit("2025-07-30")), (k % 15).cast("int"))
        .as("submitted_at"),
      when(k % 8 === 0, lit("Missing modifier"))
        .when(k % 8 === 1, lit("incorrect npi"))
        .when(k % 8 === 2, lit("Authorization Expired"))
        .when(k % 8 === 3, lit("The claim was not billable per policy"))
        .when(k % 8 === 4, lit(null))
        .when(k % 8 === 5, lit("totally unknown reason"))
        .when(k % 8 === 6, lit("INCORRECT PROVIDER TYPE"))
        .otherwise(lit("form incomplete please fix"))
        .as("denial_reason"),
    )
  }

  /** DuckDB CTE mirroring [[synthClaims]]. */
  private val SynthClaimsSql: String =
    """WITH claims AS (
      |  SELECT o_orderkey AS claim_key,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE 'P' || o_custkey END AS patient_id,
      |    CASE WHEN o_orderkey % 3 = 1 THEN 'approved' ELSE 'denied' END AS status,
      |    DATE '2025-07-30' - CAST(o_orderkey % 15 AS INTEGER) AS submitted_at,
      |    CASE o_orderkey % 8
      |      WHEN 0 THEN 'Missing modifier'
      |      WHEN 1 THEN 'incorrect npi'
      |      WHEN 2 THEN 'Authorization Expired'
      |      WHEN 3 THEN 'The claim was not billable per policy'
      |      WHEN 4 THEN NULL
      |      WHEN 5 THEN 'totally unknown reason'
      |      WHEN 6 THEN 'INCORRECT PROVIDER TYPE'
      |      ELSE 'form incomplete please fix' END AS denial_reason
      |  FROM orders)
      |""".stripMargin

  /** DuckDB mirror of Eligibility.classifyDenial over column `r`. */
  private def classifySql(r: String): String =
    s"""CASE WHEN $r IS NULL THEN 'ambiguous'
       |  WHEN lower($r) IN ('missing modifier','incorrect npi','prior auth required') THEN 'retryable'
       |  WHEN lower($r) IN ('authorization expired','incorrect provider type') THEN 'non-retryable'
       |  WHEN contains(lower($r),'incorrect procedure') OR contains(lower($r),'form incomplete')
       |    OR contains(lower($r),'not billable') THEN 'retryable'
       |  ELSE 'ambiguous' END""".stripMargin

  /** DuckDB mirror of the eligibility conjunction (fixed TODAY 2025-07-30). */
  private val EligibleSql: String =
    s"""(status = 'denied' AND patient_id IS NOT NULL
       | AND (DATE '2025-07-30' - submitted_at) > 7
       | AND ${classifySql("denial_reason")} = 'retryable')""".stripMargin

  /** Whitespace trim-set matching Normalize.trimToNull: its 12 chars. */
  private val TrimSetSql =
    Normalize.Whitespace.map(c => s"chr(${c.toInt})").mkString(" || ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O5/O6/O8: trim-to-null, lowercase, "None"-literal scrub.
    "c1_normalize" -> ((spark, dir) => {
      val k = col("p_partkey")
      val raw = when(k % 5 === 0, lit("   "))
        .when(k % 5 === 1, lit("  None \t"))
        .when(k % 5 === 2, lit(null))
        .otherwise(concat(lit("  "), col("p_brand"), lit("\t")))
      t(spark, dir, "part")
        .select(
          k.as("p_partkey"),
          Normalize.trimToNull(raw).as("trimmed"),
          Normalize.scrubNoneLiteral(raw).as("scrubbed"),
          Normalize.lowerNorm(raw).as("lowered"))
        .orderBy("p_partkey")
    }),

    // O7: multi-format date parse with null on mismatch.
    "c2_dateparse" -> ((spark, dir) => {
      val k = col("o_orderkey")
      val rawDate = when(k % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(k % 3 === 1, date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"))
        .otherwise(lit("not a date"))
      t(spark, dir, "orders")
        .select(k.as("claim_key"), rawDate.as("raw"),
          Normalize.parseDate(rawDate).as("parsed"))
        .orderBy("claim_key")
    }),

    // O11: 3-way denial classifier (exact / substring / null branches).
    "c3_classify" -> ((spark, dir) =>
      synthClaims(spark, dir)
        .select(col("claim_key"), col("denial_reason"),
          Eligibility.classifyDenial(col("denial_reason")).as("classification"))
        .orderBy("claim_key")),

    // O12+O13+O15: eligibility conjunction + first-failing-rule attribution.
    "c4_eligibility" -> ((spark, dir) => {
      // withDerived is the one statement of the conjunction and the
      // exclusion chain; it computes the classifier and age predicate once
      // and shares them (restating them per column costs ~3s of codegen).
      val derived = Eligibility.withDerived(
        synthClaims(spark, dir), PipelineConfig())
      derived
        .groupBy(coalesce(col("exclusion_reason"), lit("eligible")).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // O14: constant-map recommendation lookup with default fallback.
    "c5_recommend" -> ((spark, dir) =>
      synthClaims(spark, dir)
        .select(col("claim_key"),
          Eligibility.recommendedChanges(col("denial_reason"))
            .as("recommended_changes"))
        .orderBy("claim_key")),

    // O10: union of heterogeneous sources normalized to one schema
    // (unionByName with differing column order).
    "c6_union" -> ((spark, dir) => {
      val a = t(spark, dir, "orders").select(
        concat(lit("A"), col("o_orderkey")).as("claim_id"),
        lit("alpha").as("source_system"))
      val b = t(spark, dir, "customer").select(
        lit("beta").as("source_system"),
        concat(lit("B"), col("c_custkey")).as("claim_id"))
      a.unionByName(b)
        .groupBy("source_system").agg(count(lit(1)).as("n"))
        .orderBy("source_system")
    }),

    // O16: single-pass metrics aggregation (count_if counters).
    "c7_metrics" -> ((spark, dir) => {
      val derived = Eligibility.withDerived(
        synthClaims(spark, dir), PipelineConfig())
      val excl = col("exclusion_reason")
      derived.agg(
        count(lit(1)).as("total_processed"),
        count_if(col("eligible")).as("flagged_for_resubmission"),
        count_if(excl === "not_denied_status").as("not_denied_status"),
        count_if(excl === "patient_id_missing").as("patient_id_missing"),
        count_if(excl === "too_recent").as("too_recent"),
        count_if(excl === "non-retryable_or_ambiguous").as("non_retryable_or_ambiguous"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "c1_normalize" ->
      s"""SELECT p_partkey, trimmed,
         |  CASE WHEN lower(trimmed) = 'none' THEN NULL ELSE trimmed END AS scrubbed,
         |  lower(trimmed) AS lowered
         |FROM (
         |  SELECT p_partkey,
         |    nullif(trim(CASE p_partkey % 5
         |      WHEN 0 THEN '   '
         |      WHEN 1 THEN '  None ' || chr(9)
         |      WHEN 2 THEN NULL
         |      ELSE '  ' || p_brand || chr(9) END, $TrimSetSql), '') AS trimmed
         |  FROM part)
         |ORDER BY p_partkey""".stripMargin,

    "c2_dateparse" ->
      """SELECT claim_key, raw,
        |  CAST(coalesce(try_strptime(raw, '%Y-%m-%d'),
        |                try_strptime(raw, '%Y-%m-%dT%H:%M:%S')) AS DATE) AS parsed
        |FROM (
        |  SELECT o_orderkey AS claim_key,
        |    CASE o_orderkey % 3
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
        |      ELSE 'not a date' END AS raw
        |  FROM orders)
        |ORDER BY claim_key""".stripMargin,

    "c3_classify" ->
      s"""${SynthClaimsSql}SELECT claim_key, denial_reason,
         |${classifySql("denial_reason")} AS classification
         |FROM claims ORDER BY claim_key""".stripMargin,

    "c4_eligibility" ->
      s"""${SynthClaimsSql}SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT CASE
         |    WHEN $EligibleSql THEN 'eligible'
         |    WHEN status IS NULL OR status <> 'denied' THEN 'not_denied_status'
         |    WHEN patient_id IS NULL THEN 'patient_id_missing'
         |    WHEN NOT coalesce((DATE '2025-07-30' - submitted_at) > 7, false) THEN 'too_recent'
         |    ELSE 'non-retryable_or_ambiguous' END AS bucket
         |  FROM claims)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "c5_recommend" ->
      s"""${SynthClaimsSql}SELECT claim_key,
         |  coalesce(CASE lower(denial_reason)
         |    WHEN 'missing modifier' THEN 'Add correct CPT modifier, resubmit'
         |    WHEN 'incorrect npi' THEN 'Review provider NPI, correct and resubmit'
         |    WHEN 'prior auth required' THEN 'Obtain/attach prior authorization and resubmit'
         |    WHEN 'incorrect procedure' THEN 'Verify CPT/HCPCS code mapping, correct if needed and resubmit'
         |    WHEN 'form incomplete' THEN 'Fill missing fields and resubmit'
         |    WHEN 'not billable' THEN 'Confirm coverage/payer policy; update claim or appeal'
         |    END, 'Review claim details, supply missing info and resubmit')
         |    AS recommended_changes
         |FROM claims ORDER BY claim_key""".stripMargin,

    "c6_union" ->
      """SELECT source_system, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT 'A' || o_orderkey AS claim_id, 'alpha' AS source_system FROM orders
        |  UNION ALL
        |  SELECT 'B' || c_custkey, 'beta' FROM customer)
        |GROUP BY source_system ORDER BY source_system""".stripMargin,

    "c7_metrics" ->
      s"""${SynthClaimsSql}SELECT
         |  CAST(count(*) AS BIGINT) AS total_processed,
         |  CAST(count(*) FILTER (WHERE bucket = 'eligible') AS BIGINT) AS flagged_for_resubmission,
         |  CAST(count(*) FILTER (WHERE bucket = 'not_denied_status') AS BIGINT) AS not_denied_status,
         |  CAST(count(*) FILTER (WHERE bucket = 'patient_id_missing') AS BIGINT) AS patient_id_missing,
         |  CAST(count(*) FILTER (WHERE bucket = 'too_recent') AS BIGINT) AS too_recent,
         |  CAST(count(*) FILTER (WHERE bucket = 'non-retryable_or_ambiguous') AS BIGINT) AS non_retryable_or_ambiguous
         |FROM (
         |  SELECT CASE
         |    WHEN $EligibleSql THEN 'eligible'
         |    WHEN status IS NULL OR status <> 'denied' THEN 'not_denied_status'
         |    WHEN patient_id IS NULL THEN 'patient_id_missing'
         |    WHEN NOT coalesce((DATE '2025-07-30' - submitted_at) > 7, false) THEN 'too_recent'
         |    ELSE 'non-retryable_or_ambiguous' END AS bucket
         |  FROM claims)""".stripMargin,
  )
}

