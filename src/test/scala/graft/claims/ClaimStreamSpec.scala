package graft.claims

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The same normalize/eligibility Column operators run unmodified on a
  * Structured Streaming frame — claims ingestion as a stream (file source
  * watching a landing directory), candidates appended incrementally.
  */
class ClaimStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("streaming claims ingest yields the same candidates as batch") {
    val dir = Files.createTempDirectory("claims-landing")
    val csv =
      """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
        |A123,P001,99213,Missing modifier,2025-07-01,denied
        |A124,P002,99214,Incorrect NPI,2025-07-10,denied
        |A125,,99215,Authorization expired,2025-07-05,denied
        |A126,P003,99381,None,2025-07-15,approved
        |A127,P004,99401,Prior auth required,2025-07-20,denied
        |""".stripMargin
    Files.write(dir.resolve("batch1.csv"), csv.getBytes(StandardCharsets.UTF_8))

    val rawSchema = StructType(
      Seq("claim_id", "patient_id", "procedure_code", "denial_reason",
        "submitted_at", "status").map(StructField(_, StringType)))
    val stream = spark.readStream.schema(rawSchema)
      .option("header", "true").csv(dir.toString)
    val candidates = Eligibility.candidates(
      Eligibility.withDerived(Normalize.normalizeAlpha(stream), PipelineConfig()))

    val q = candidates.writeStream.format("memory")
      .queryName("claim_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got1 = spark.table("claim_stream")
        .select("claim_id").collect().map(_.getString(0)).sorted
      assert(got1 === Array("A123", "A124", "A127"))

      // A second file lands: incremental processing picks up only new rows.
      Files.write(dir.resolve("batch2.csv"),
        """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
          |B001,P009,99213,form incomplete,2025-07-02,denied
          |""".stripMargin.getBytes(StandardCharsets.UTF_8))
      q.processAllAvailable()
      val got2 = spark.table("claim_stream")
        .select("claim_id").collect().map(_.getString(0)).sorted
      assert(got2 === Array("A123", "A124", "A127", "B001"))
    } finally q.stop()
  }

  test("normalized claims register as a temp view and answer SQL") {
    val dir = Files.createTempDirectory("sqlview")
    val p = dir.resolve("a.csv")
    Files.write(p,
      """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
        |A1,P1,99213,Missing modifier,2025-07-01,denied
        |A2,P2,99213,None,2025-07-01,approved
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Normalize.readAlpha(spark, p.toString).createOrReplaceTempView("claims")
    val got = spark.sql(
      """SELECT status, count(*) AS n, count(denial_reason) AS with_reason
        |FROM claims GROUP BY status ORDER BY status""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(("approved", 1L, 0L), ("denied", 1L, 1L)))
  }
}
