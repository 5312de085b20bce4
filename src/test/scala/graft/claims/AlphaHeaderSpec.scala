package graft.claims

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Normalize.readAlpha` reads each CSV's header row on the driver and
  * hands the scan an explicit all-string schema. These specs hold its raw
  * frame to the header-inferred read it replaced, the oracle, on files
  * whose header line is hard to find or to split, and pin that building
  * the frame starts no Spark job.
  */
class AlphaHeaderSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private lazy val dir: Path = Files.createTempDirectory("graft-alpha-header")

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def inferred(path: String): DataFrame =
    spark.read.option("header", "true").option("mode", "PERMISSIVE").csv(path)

  private val Header =
    "claim_id,patient_id,procedure_code,denial_reason,submitted_at,status"
  private val Rows = Seq(
    "A1,P1,99213,Missing modifier,2025-07-01,denied",
    "A2,,99214,\"form incomplete, page 2\",2025-07-10,denied",
    "A3,P3,99215,None,bad-date,approved",
    "A4,P4",
    "A5,P5,99401,Prior auth required,2025-07-20,denied,extra")

  private def csv(header: String, sep: String = "\n"): String =
    (header +: Rows).mkString("", sep, sep)

  /** Name → file content: every header the reader has to find and split
    * as inference does.
    */
  private val Cases = Seq(
    "plain" -> csv(Header),
    "bom" -> ("\uFEFF" + csv(Header)),
    "blank lines before the header" -> ("\n  \n\n" + csv(Header)),
    "quoted names with a comma and a doubled quote" ->
      csv("\"claim,id\",\"say \"\"hi\"\"\",claim_id,status"),
    "case-variant duplicates and an empty name" ->
      csv("claim_id,Claim_ID,,status,claim_id,patient_id"),
    "header only" -> (Header + "\n"),
    "crlf" -> csv(Header, "\r\n"),
    "space-padded names" ->
      csv(" claim_id , patient_id,procedure_code ,denial_reason,submitted_at,status"),
    "a _corrupt_record column" ->
      csv("claim_id,patient_id,_corrupt_record,denial_reason,submitted_at,status"),
    "0-byte file" -> "")

  /** The raw frame's schema and rows equal the inferred read's, and so do
    * the normalized rows.
    */
  private def assertSameAsInferred(path: String, clue: String): Unit = {
    val got = Normalize.alphaRaw(spark, path)
    val want = inferred(path)
    assert(got.schema === want.schema, clue)
    assert(got.collect().toSeq === want.collect().toSeq, clue)
    assert(Normalize.readAlpha(spark, path).collect().toSeq ===
      Normalize.normalizeAlpha(want).collect().toSeq, clue)
  }

  for (((name, content), i) <- Cases.zipWithIndex)
    test(s"header read == header inference: $name") {
      assertSameAsInferred(write(s"case$i.csv", content), name)
    }

  test("header read == header inference on a file split 5+ ways") {
    val big = write("big.csv", (Header +: (0 until 4000).map(i =>
      f"A$i%05d,P$i,99213,Missing modifier,2025-07-01,denied"))
      .mkString("", "\n", "\n"))
    // The split confs of ClaimSplitParitySpec.
    graft.TestSpark.withConfs("spark.sql.files.maxPartitionBytes" -> "32768",
        "spark.sql.files.openCostInBytes" -> "1024") {
      assert(Normalize.alphaRaw(spark, big).rdd.getNumPartitions >= 5)
      assertSameAsInferred(big, "split")
      assert(Normalize.alphaRaw(spark, big).count() === 4000)
    }
  }

  test("a control-char-only line before the header is not the header") {
    // Inference skips only lines that are empty once spaces are trimmed, so
    // it names the one column "\t"; the scan skips every line that is empty
    // once chars up to U+0020 are trimmed and drops the real header line
    // as the header. The driver read skips lines as the scan does.
    val path = write("tab.csv", "\t\n\u000b \n" + csv(Header))
    assert(inferred(path).columns.toSeq === Seq("\t"))
    assert(inferred(path).count() === Rows.size)
    val plain = write("tab-plain.csv", csv(Header))
    assert(Normalize.alphaRaw(spark, path).schema === inferred(plain).schema)
    assert(Normalize.alphaRaw(spark, path).collect().toSeq ===
      inferred(plain).collect().toSeq)
  }

  test("readAlpha starts no Spark job; header inference starts one") {
    val path = write("jobs.csv", csv(Header))
    val (df, jobs) = graft.JobCounter(spark)(Normalize.readAlpha(spark, path))
    assert(df.columns.contains("claim_id"))
    assert(jobs === 0)
    assert(graft.JobCounter(spark)(inferred(path))._2 === 1)
  }
}
