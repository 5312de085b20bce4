package graft.claims

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Byte pins for the candidates sink's JSON renderer. Every expected text
  * is Python's `json.dumps(rows, indent=2)` of the same rows (the
  * reference writes its candidates with `json.dump(..., indent=2)`,
  * claim_pipeline.py:218-220), produced once and pasted here.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def row(schema: StructType, values: Any*): Row =
    new GenericRowWithSchema(values.toArray, schema)

  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType)))

  private def render(rows: Seq[Row]): String = {
    val out = new java.io.StringWriter
    Sinks.renderJsonArrayTo(out, rows)
    out.toString
  }

  test("escapes every special character as json.dumps does") {
    val cases = Seq(
      "quote" -> "a\"b", "backslash" -> "a\\b", "slash" -> "a/b",
      "backspace" -> "a\bb", "formfeed" -> "a\fb", "newline" -> "a\nb",
      "cr" -> "a\rb", "tab" -> "a\tb", "u0001" -> "a\u0001b",
      "u001f" -> "a\u001fb", "del" -> "a\u007fb", "e_acute" -> "a\u00e9b",
      "u2028" -> "a\u2028b", "emoji" -> "a\ud83d\ude00b")
    val schema = strings(cases.map(_._1): _*)
    assert(render(Seq(row(schema, cases.map(_._2): _*))) === Seq(
      "[",
      "  {",
      "    \"quote\": \"a\\\"b\",",
      "    \"backslash\": \"a\\\\b\",",
      "    \"slash\": \"a/b\",",
      "    \"backspace\": \"a\\bb\",",
      "    \"formfeed\": \"a\\fb\",",
      "    \"newline\": \"a\\nb\",",
      "    \"cr\": \"a\\rb\",",
      "    \"tab\": \"a\\tb\",",
      "    \"u0001\": \"a\\u0001b\",",
      "    \"u001f\": \"a\\u001fb\",",
      "    \"del\": \"a\\u007fb\",",
      "    \"e_acute\": \"a\\u00e9b\",",
      "    \"u2028\": \"a\\u2028b\",",
      "    \"emoji\": \"a\\ud83d\\ude00b\"",
      "  }",
      "]").mkString("\n"))
  }

  test("renders empty strings, nulls, longs, booleans and escaped field names") {
    val schema = StructType(Seq(
      StructField("e", StringType), StructField("nul", StringType),
      StructField("n", LongType), StructField("b", BooleanType),
      StructField("k\"\\\u00e9", StringType)))
    val rows = Seq(
      row(schema, "", null, 9007199254740993L, true, "plain"),
      row(schema, "x", null, -1L, false, ""))
    assert(render(rows) === Seq(
      "[",
      "  {",
      "    \"e\": \"\",",
      "    \"nul\": null,",
      "    \"n\": 9007199254740993,",
      "    \"b\": true,",
      "    \"k\\\"\\\\\\u00e9\": \"plain\"",
      "  },",
      "  {",
      "    \"e\": \"x\",",
      "    \"nul\": null,",
      "    \"n\": -1,",
      "    \"b\": false,",
      "    \"k\\\"\\\\\\u00e9\": \"\"",
      "  }",
      "]").mkString("\n"))
  }

  test("zero rows render as []") {
    assert(render(Nil) === "[]")
  }

  test("a render larger than the writer's flush size keeps every byte") {
    // 3000 rows {"i": i, "v": "row i \"q\" \\ é\n"}: 183,782 bytes, well
    // past the 32 KB pieces the renderer hands its writer. Length and
    // SHA-256 are those of Python's json.dumps(rows, indent=2) bytes.
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("v", StringType)))
    val rows = (0 until 3000).map(i =>
      row(schema, i.toLong, s"row $i \"q\" \\ \u00e9\n"))
    val bytes = render(rows).getBytes(StandardCharsets.UTF_8)
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(bytes.length === 183782)
    assert(sha ===
      "b04b024a8ddeb94bc290477aec112b8415b2c20fed1ada8992cc540aaf39cf54")
  }

  test("writeCandidatesPretty writes the rows in key order, keys stripped") {
    val schema = StructType(Seq(
      StructField("claim_id", StringType), StructField("note", StringType),
      StructField("_f", IntegerType), StructField("_r", LongType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row("C3", null, 1, 0L), Row("B\"1", "\u00fc", 0, 7L),
      Row("A2", "two", 0, 3L)), schema).repartition(2)
    val path = Files.createTempDirectory("graft-sinks").resolve("cands.json")
    val got = Sinks.writeCandidatesPretty(df, path.toString, Seq("_f", "_r"))
    assert(got.map(r => (r.getString(0), r.getString(1))) ===
      Seq(("A2", "two"), ("B\"1", "\u00fc"), ("C3", null)))
    assert(got.head.schema === strings("claim_id", "note"))
    assert(new String(Files.readAllBytes(path), StandardCharsets.UTF_8) === Seq(
      "[",
      "  {",
      "    \"claim_id\": \"A2\",",
      "    \"note\": \"two\"",
      "  },",
      "  {",
      "    \"claim_id\": \"B\\\"1\",",
      "    \"note\": \"\\u00fc\"",
      "  },",
      "  {",
      "    \"claim_id\": \"C3\",",
      "    \"note\": null",
      "  }",
      "]").mkString("\n"))
  }
}
