package graft.claims

import org.apache.spark.sql.types._

/** Explicit source + normalized schemas.
  *
  * The reference reads every CSV value as a string (`csv.DictReader`,
  * reference claim_pipeline.py:84) and JSON values as string-or-null
  * (claim_pipeline.py:106-113), so we pin all-StringType schemas — never
  * `inferSchema`, which would type `procedure_code` as int and break the
  * semantic contract (SURVEY.md §7.4 item 5).
  */
object Schemas {

  // Note: the alpha CSV has no declared schema here on purpose — each
  // file's schema is its own header row, read on the driver as all
  // strings (`Normalize.readAlpha`), and the frame is projected by name,
  // mirroring csv.DictReader; a fixed positional StructType would break
  // column-order independence (SURVEY.md §1.2).

  /** Raw "beta" EMR extract: top-level JSON array (reference emr_beta.json). */
  val betaRaw: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("member", StringType),
    StructField("code", StringType),
    StructField("error_msg", StringType),
    StructField("date", StringType),
    StructField("status", StringType),
    StructField("_corrupt_record", StringType),
  ))

  /** Normalized common claim schema (reference claim_pipeline.py:91-99 /
    * 106-114 — identical key sets from both loaders). `submitted_at` is
    * carried as DateType (the reference round-trips through an ISO string;
    * SURVEY.md §1.2).
    */
  val claim: StructType = StructType(Seq(
    StructField("claim_id", StringType),
    StructField("patient_id", StringType),
    StructField("procedure_code", StringType),
    StructField("denial_reason", StringType),
    StructField("status", StringType),
    StructField("submitted_at", DateType),
    StructField("source_system", StringType, nullable = false),
  ))
}
