package graft.claims

import org.apache.spark.sql.{Column, DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source readers + normalization to the common claim schema.
  *
  * Mirrors the reference loaders `load_alpha` (claim_pipeline.py:81-99) and
  * `load_beta` (claim_pipeline.py:101-114) as pure Column-expression
  * projections — no UDFs, so whole-stage codegen and pushdown stay intact;
  * the two per-field kernels are codegen'd expressions (`FieldKernels.scala`).
  *
  * `readAlpha` and `readBeta` are the one reader per source format; the
  * pipeline reads every input file through them.
  *
  * Both loaders are *name-driven* like `csv.DictReader` / `dict.get`:
  * columns are matched by name, missing columns become null, extra columns
  * are ignored (SURVEY.md §1.2).
  */
object Normalize {

  /** Whitespace set matching Python `str.strip()` for Latin-1 inputs:
    * ASCII whitespace incl. vertical tab, the C1 separators FS/GS/RS/US,
    * NEL and NBSP (all isspace() in Python). Unicode space codepoints
    * beyond Latin-1 are a documented divergence. [[StripToNull]] strips
    * exactly this set; `ClaimOps` builds its DuckDB mirror from it.
    */
  val Whitespace: String =
    " \t\n\r\f\u000b\u001c\u001d\u001e\u001f\u0085\u00a0"

  /** null→null; strip; empty-after-strip→null (reference `remove_whitespaces`,
    * claim_pipeline.py:60-65). One byte scan from each end ([[StripToNull]]),
    * equal to `nullif(btrim(c, Whitespace), '')`: an unstripped value is
    * returned as it is and a stripped one as a slice of its bytes, where
    * `btrim` with a trim-set copies every value and walks it whole.
    */
  def trimToNull(c: Column): Column =
    graftbridge.column(StripToNull(graftbridge.expression(c)))

  /** Null-safe lowercase (reference `to_lower`, claim_pipeline.py:67-69). */
  def lowerNorm(c: Column): Column = lower(trimToNull(c))

  /** `yyyy-MM-dd` or ISO date-time; unparseable/blank → null (reference
    * `to_iso_date`, claim_pipeline.py:47-57, which tries the date and then
    * the date-time format).
    *
    * [[IsoDate]] decides the two canonical shapes in place, `yyyy-MM-dd`
    * and `yyyy-MM-dd'T'HH:mm:ss` with `T` or `t`, and gives null for every
    * other string, with no parse and no exception. A value with a leading
    * `+` or `-` is null too, as in the reference, whose `%Y` takes exactly
    * four digits.
    *
    * Parses the RAW value, not a trimmed one: strptime rejects
    * whitespace-padded dates (' 2025-07-10' → ValueError → None in the
    * reference), so trimming first would flip older_than for such rows.
    */
  def parseDate(c: Column): Column =
    graftbridge.column(IsoDate(graftbridge.expression(c)))

  /** Alpha-only "None"-literal scrub: after trim, a value whose lowercase is
    * "none" becomes null (claim_pipeline.py:86-89). Beta error_msg is only
    * trimmed — the asymmetry is part of the semantic contract (SURVEY §2.3 S4).
    */
  def scrubNoneLiteral(c: Column): Column = {
    val t = trimToNull(c)
    when(lower(t) === "none", lit(null)).otherwise(t)
  }

  /** Column by name if present, else null — `row.get(name)` semantics. */
  private def colOrNull(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) df(name) else lit(null).cast("string")

  /** Corrupt-record flag: true when PERMISSIVE parsing stashed the raw text
    * in `_corrupt_record`. Carried through normalization so the metrics pass
    * can count malformed records in the same scan (SURVEY §2.1 O20/O21).
    */
  private def corruptFlag(df: DataFrame): Column =
    if (df.columns.contains("_corrupt_record")) df("_corrupt_record").isNotNull
    else lit(false)

  /** Normalize a raw alpha (CSV) frame to the common claim schema
    * (+ `_corrupt` bookkeeping column).
    */
  def normalizeAlpha(raw: DataFrame): DataFrame = {
    def c(n: String) = colOrNull(raw, n)
    raw.select(
      trimToNull(c("claim_id")).as("claim_id"),
      trimToNull(c("patient_id")).as("patient_id"),
      trimToNull(c("procedure_code")).as("procedure_code"),
      scrubNoneLiteral(c("denial_reason")).as("denial_reason"),
      lowerNorm(c("status")).as("status"),
      parseDate(c("submitted_at")).as("submitted_at"),
      lit("alpha").as("source_system"),
      corruptFlag(raw).as("_corrupt"),
    )
  }

  /** Normalize a raw beta (JSON) frame: rename id→claim_id, member→patient_id,
    * code→procedure_code, error_msg→denial_reason, date→submitted_at
    * (claim_pipeline.py:107-112). No "None" scrub on error_msg (S4).
    */
  def normalizeBeta(raw: DataFrame): DataFrame = {
    def c(n: String) = colOrNull(raw, n)
    raw.select(
      trimToNull(c("id")).as("claim_id"),
      trimToNull(c("member")).as("patient_id"),
      trimToNull(c("code")).as("procedure_code"),
      trimToNull(c("error_msg")).as("denial_reason"),
      lowerNorm(c("status")).as("status"),
      parseDate(c("date")).as("submitted_at"),
      lit("beta").as("source_system"),
      corruptFlag(raw).as("_corrupt"),
    )
  }

  /** The one option set of an alpha CSV read: the header read and the scan
    * both take it, so the two cannot disagree on how a line splits.
    */
  private val AlphaCsv = Map("header" -> "true", "mode" -> "PERMISSIVE")

  /** Read + normalize an alpha CSV. Header-driven (name-matched) like
    * `csv.DictReader`: every column is a string named by the header row,
    * and the projection is by name, so column order never matters and extra
    * columns are ignored (reference claim_pipeline.py:84, 92-97).
    *
    * The header row is read on the driver ([[graftbridge.csvHeader]]) and
    * the scan gets it as an explicit all-string schema: the schema Spark's
    * header inference gives, without the inference's Spark job. (Inference
    * takes a line of control chars before the header, such as a lone tab,
    * as the header line; the scan skips it, and so does this read.)
    * `header` stays set, so the scan still drops the header line from each
    * file's first split. Like the reference's `open()`, a path that is not
    * a readable file (missing, a directory, a glob) throws here, and the
    * pipeline counts it as one malformed file.
    */
  def readAlpha(spark: SparkSession, path: String): DataFrame =
    normalizeAlpha(alphaRaw(spark, path))

  /** The raw alpha frame [[readAlpha]] normalizes: one string column per
    * header name.
    */
  private[claims] def alphaRaw(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(graftbridge.csvHeader(spark, path, AlphaCsv)
      .map(StructField(_, StringType)))
    spark.read.options(AlphaCsv).schema(schema).csv(path)
  }

  /** Raw beta frame re-parsed through Spark 4 VARIANT so that records the
    * reference loader would RAISE on are detectable (S11 bug-compat
    * support; reference claim_pipeline.py:101-114, 213-215).
    *
    * The reference's `load_beta` generator raises mid-iteration when a
    * field's JSON type is not a string: `remove_whitespaces` calls
    * `.strip()` (AttributeError on int/bool/list/dict) for
    * id/member/code/error_msg/status, and `to_iso_date` calls `strptime`
    * (TypeError) on a TRUTHY non-string date — falsy values (0, false)
    * short-circuit to None first. Spark's PERMISSIVE string-schema read
    * silently coerces those values, so this path re-derives the raise
    * predicate from each field's variant type and marks such records via
    * `_corrupt_record`. Structural failures — invalid JSON, or a
    * top-level value that is not an array (both of which abort the
    * reference before/at the first record) — collapse to a single
    * corrupt row, like `json.load` yielding zero records + one
    * malformed. Documented divergence: Python treats empty containers
    * ([] / {}) as falsy dates; here any container date raises.
    */
  private def betaRawLoaderParity(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
      .select(col("value").as("_raw"))
    val fileArr = try_parse_json(col("_raw")).try_cast("array<variant>")
    val withArr = raw.select(
      when(fileArr.isNotNull, fileArr)
        .otherwise(array(lit(null).cast("variant"))).as("_arr"))
    val elems = withArr.select(explode(col("_arr")).as("_elem"))
    val elem = col("_elem")
    def vg(f: String) = variant_get(elem, "$." + f, "variant")
    def strField(f: String) = try_variant_get(elem, "$." + f, "string")
    def fieldRaises(f: String) = {
      val v = vg(f)
      v.isNotNull && !is_variant_null(v) && schema_of_variant(v) =!= "STRING"
    }
    val dv = vg("date")
    val dt = schema_of_variant(dv)
    val dateTruthy = when(dt === "BOOLEAN",
        coalesce(try_variant_get(elem, "$.date", "boolean"), lit(true)))
      .when(dt.isin("BIGINT", "DOUBLE") || dt.startsWith("DECIMAL"),
        coalesce(try_variant_get(elem, "$.date", "double") =!= 0.0, lit(true)))
      .otherwise(lit(true))
    val dateRaises = dv.isNotNull && !is_variant_null(dv) &&
      dt =!= "STRING" && dateTruthy
    val raises = elem.isNull ||
      !schema_of_variant(elem).startsWith("OBJECT") ||
      Seq("id", "member", "code", "error_msg", "status")
        .map(fieldRaises).reduce(_ || _) ||
      dateRaises
    elems.select(
      strField("id").as("id"),
      strField("member").as("member"),
      strField("code").as("code"),
      strField("error_msg").as("error_msg"),
      strField("date").as("date"),
      strField("status").as("status"),
      when(raises, lit("_loader_raise_")).cast("string").as("_corrupt_record"))
  }

  /** Read + normalize a beta JSON file: a top-level JSON *array* of flat
    * objects, hence `multiLine` (reference claim_pipeline.py:104).
    * PERMISSIVE + corrupt-record column: Spark degrades per *record* where
    * the reference aborts the rest of the file — strictly better recovery,
    * documented divergence (SURVEY §7.4 item 4). With `loaderParity` (S11)
    * the file is read through [[betaRawLoaderParity]] instead, which
    * additionally flags the records the reference loader would raise on
    * as corrupt.
    */
  def readBeta(spark: SparkSession, path: String,
      loaderParity: Boolean): DataFrame =
    normalizeBeta(
      if (loaderParity) betaRawLoaderParity(spark, path)
      else spark.read
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(Schemas.betaRaw)
        .json(path))
}
