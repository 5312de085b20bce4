package graft.claims

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential property test (SURVEY.md §5.2 item 3): generate diverse raw
  * alpha claims with ScalaCheck, run the Spark operators, and compare every
  * row against an independent in-test Scala model of the reference
  * semantics (claim_pipeline.py:48-150, rules S1-S8).
  */
class ClaimPropertiesSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  // ---- generators -------------------------------------------------------

  // Python's `str.strip()` set over Latin-1 (what `Normalize.trimToNull`
  // strips), and characters next to it that Python keeps.
  private val StripSet = " \t\n\r\f\u000b\u001c\u001d\u001e\u001f\u0085\u00a0"
  private val NearMisses = "\u0000\u0001\u0008\u0084\u0086\u00a1\u0145"

  /** 0-3 chars drawn mostly from the strip set, now and then a near-miss. */
  private val genPad: Gen[String] = Gen.choose(0, 3).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      6 -> Gen.oneOf(StripSet.toSeq), 1 -> Gen.oneOf(NearMisses.toSeq))))
      .map(_.mkString)

  /** A value with padding on either side; null stays null. */
  private def padded(g: Gen[String]): Gen[String] = for {
    v <- g; l <- genPad; r <- genPad
  } yield if (v == null) null else l + v + r

  private val genStatus = padded(Gen.oneOf[String](
    "denied", "DENIED", " Denied ", "approved", "pending", "", null))
  private val genPatient = padded(
    Gen.oneOf[String]("P1", " P2 ", "", "  ", null))
  private val genDate = Gen.oneOf[String](
    "2025-07-22", "2025-07-23", "2025-07-24", "2025-07-01",
    "2025-07-01T10:30:00", "bad-date", "2025-13-45", "", null,
    " 2025-07-10 ")
  private val genReason = padded(Gen.oneOf[String](
    "Missing modifier", "missing modifier", " INCORRECT NPI ",
    "Prior auth required", "Authorization expired", "Incorrect provider type",
    "claim not billable per policy", "form incomplete: fix it",
    "has incorrect procedure code", "something else entirely",
    "None", " none ", "", "   ", null))
  private val genClaim = for {
    s <- genStatus; p <- genPatient; d <- genDate; r <- genReason
  } yield (s, p, d, r)

  // ---- independent model of the reference semantics ---------------------

  private val Today = LocalDate.of(2025, 7, 30)

  // Models reference remove_whitespaces (claim_pipeline.py:60-65): Python's
  // `str.strip()`, which keeps U+0000-U+0008 (Java's `String.trim` strips
  // them) and strips U+0085 and U+00A0 (`String.trim` keeps them).
  private def mTrim(s: String): Option[String] =
    Option(s).map(_.dropWhile(StripSet.contains(_))
      .reverse.dropWhile(StripSet.contains(_)).reverse).filter(_.nonEmpty)

  // Models reference to_iso_date (claim_pipeline.py:47-57): the RAW value
  // goes to strptime, which rejects whitespace padding — ' 2025-07-10 '
  // parses to None there, so no trim here either.
  private def mDate(s: String): Option[LocalDate] =
    Option(s).filter(_.nonEmpty).flatMap { t =>
      def p(fmt: String) =
        try Some(LocalDate.parse(t, DateTimeFormatter.ofPattern(fmt)))
        catch { case _: Exception => None }
      p("yyyy-MM-dd").orElse(p("yyyy-MM-dd'T'HH:mm:ss"))
    }

  private def mReason(s: String): Option[String] =
    mTrim(s).filter(_.toLowerCase != "none")

  private def mClassify(r: Option[String]): String = r match {
    case None => "ambiguous"
    case Some(v) =>
      val lc = v.toLowerCase
      if (Rules.Retryable.contains(lc)) "retryable"
      else if (Rules.NonRetryable.contains(lc)) "non-retryable"
      else if (Rules.RetryableKeywords.exists(lc.contains)) "retryable"
      else "ambiguous"
  }

  private case class Model(status: Option[String], patient: Option[String],
      date: Option[LocalDate], reason: Option[String]) {
    val oldEnough: Boolean =
      date.exists(d => Today.toEpochDay - d.toEpochDay > 7)
    val eligible: Boolean =
      status.contains("denied") && patient.nonEmpty && oldEnough &&
        mClassify(reason) == "retryable"
    val exclusion: Option[String] =
      if (eligible) None
      else if (!status.contains("denied")) Some("not_denied_status")
      else if (patient.isEmpty) Some("patient_id_missing")
      else if (!oldEnough) Some("too_recent")
      else Some("non-retryable_or_ambiguous")
  }

  private def model(s: String, p: String, d: String, r: String) = Model(
    status = mTrim(s).map(_.toLowerCase),
    patient = mTrim(p),
    date = mDate(d),
    reason = mReason(r))

  // ---- the differential run --------------------------------------------

  test("Spark operators agree with the reference model on 400 generated claims") {
    val cases = Gen.listOfN(400, genClaim)
      .apply(Gen.Parameters.default, Seed(42L)).get
    val schema = StructType(Seq(
      StructField("claim_id", StringType), StructField("patient_id", StringType),
      StructField("procedure_code", StringType),
      StructField("denial_reason", StringType),
      StructField("submitted_at", StringType), StructField("status", StringType)))
    val rows = cases.zipWithIndex.map { case ((s, p, d, r), i) =>
      Row(i.toString, p, "99213", r, d, s)
    }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val claims = Normalize.normalizeAlpha(raw)
    val cfg = PipelineConfig()
    val got = Eligibility.withDerived(claims, cfg)
      .select("claim_id", "classification", "eligible", "exclusion_reason")
      .collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getBoolean(2), Option(r.getString(3))))
      .toMap

    cases.zipWithIndex.foreach { case ((s, p, d, r), i) =>
      val m = model(s, p, d, r)
      val (gc, ge, gx) = got(i.toString)
      assert(gc === mClassify(m.reason),
        s"classify mismatch on case $i: ($s, $p, $d, $r)")
      assert(ge === m.eligible,
        s"eligible mismatch on case $i: ($s, $p, $d, $r)")
      assert(gx === m.exclusion,
        s"exclusion mismatch on case $i: ($s, $p, $d, $r)")
    }

    // Bucket counts partition the input: flagged + sum(buckets) = total.
    val agg = Eligibility.withDerived(claims, cfg)
      .groupBy("exclusion_reason").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(agg.values.sum === 400)
    assert(agg.getOrElse(None, 0L) ===
      cases.zipWithIndex.count { case ((s, p, d, r), _) =>
        model(s, p, d, r).eligible })
  }

  test("beta normalizer agrees with the model (no None-scrub on error_msg)") {
    val cases = Gen.listOfN(200, genClaim)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("member", StringType),
      StructField("code", StringType), StructField("error_msg", StringType),
      StructField("date", StringType), StructField("status", StringType)))
    val rows = cases.zipWithIndex.map { case ((s, p, d, r), i) =>
      Row(i.toString, p, "99213", r, d, s)
    }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val got = Normalize.normalizeBeta(raw)
      .select("claim_id", "patient_id", "denial_reason", "status", "submitted_at")
      .collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)),
        Option(r.getString(2)), Option(r.getString(3)),
        Option(r.getDate(4)).map(_.toLocalDate)))
      .toMap

    cases.zipWithIndex.foreach { case ((s, p, d, r), i) =>
      val (gp, gr, gs, gd) = got(i.toString)
      assert(gp === mTrim(p), s"beta patient mismatch case $i")
      // S4 asymmetry: beta error_msg is only trimmed — "None" survives.
      assert(gr === mTrim(r), s"beta reason mismatch case $i: $r")
      assert(gs === mTrim(s).map(_.toLowerCase), s"beta status mismatch case $i")
      assert(gd === mDate(d), s"beta date mismatch case $i: $d")
    }
  }

  test("parseDate value table: an ISO date, or an ISO date-time with T or t") {
    val table = Seq[(String, String)](
      "2025-07-01" -> "2025-07-01",
      "2025-07-01T10:11:12" -> "2025-07-01",
      "2025-07-01t10:11:12" -> "2025-07-01",
      "2024-02-29" -> "2024-02-29",
      (null, null),
      "" -> null,
      " 2025-07-01" -> null,
      "2025-07-01 " -> null,
      "2025-7-1" -> null,
      "2025-07-01T10:11" -> null,
      "2025-07-01T10:11:12Z" -> null,
      "2025-07-01T10:11:12.5" -> null,
      "2025-02-29" -> null,
      "2025-06-31" -> null,
      "2025-07-01T25:00:00" -> null,
      "2025-07-01T" -> null,
      "T" -> null,
      "07/01/2025" -> null,
      // A signed year is null, as strptime's four-digit `%Y` gives, even
      // one past what a timestamp can hold. Year 0 is where the parser
      // still leaves strptime behind.
      "+12025-01-01" -> null,
      "-2025-01-01" -> null,
      "+002025-01-01" -> null,
      "+294248-01-01" -> null,
      "-2025-07-01T10:11:12" -> null,
      "0000-01-01" -> "0000-01-01",
      "12025-01-01" -> null,
      "+2025-01-01" -> null,
      "2025-07-01T23:59:59" -> "2025-07-01",
      "2025-07-01T24:00:00" -> null,
      "2025-07-01T10:60:00" -> null,
      "2025-07-01T10:11:60" -> null,
      "\uff12\uff10\uff12\uff15-07-01" -> null)
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(table.map(t => Row(t._1)): _*),
      StructType(Seq(StructField("v", StringType))))
    val got = raw
      .select(col("v"), Normalize.parseDate(col("v")).cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === table)
  }
}
