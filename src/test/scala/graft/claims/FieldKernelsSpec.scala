package graft.claims

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The two field kernels ([[StripToNull]], [[IsoDate]]) against the
  * built-in formulations they replaced, on seeded corpora of more than
  * 100k strings each: once with every expression compiled (whole-stage
  * codegen, `CODEGEN_ONLY`, no fallback) and once with every expression
  * interpreted (`NO_CODEGEN`, whole-stage codegen off).
  */
class FieldKernelsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  // ---- the replaced formulations: the oracle ----------------------------

  private def oldTrim(c: Column): Column =
    nullif(btrim(c, lit(Normalize.Whitespace)), lit(""))

  private def oldScrub(c: Column): Column = {
    val t = oldTrim(c)
    when(lower(t) === "none", lit(null)).otherwise(t)
  }

  /** The java.time parse, which reads a signed year. */
  private def javaTimeDate(c: Column): Column =
    when(c.contains("T") || c.contains("t"),
      try_to_date(c, "yyyy-MM-dd'T'HH:mm:ss"))
      .otherwise(try_to_date(c, "yyyy-MM-dd"))

  /** The java.time parse on unsigned values; a signed value is null, as
    * the reference's strptime gives.
    */
  private def oldDate(c: Column): Column =
    when(c.startsWith("+") || c.startsWith("-"), lit(null).cast(DateType))
      .otherwise(javaTimeDate(c))

  // ---- the two evaluation modes -----------------------------------------

  private val Modes = Seq(
    "CODEGEN_ONLY" -> Map(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Map(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** The strings as one column `v` of an RDD-backed frame, so that the
    * optimizer cannot fold the expressions into a local relation.
    */
  private def frame(strings: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(strings.map(Row(_)), 4),
      StructType(Seq(StructField("v", StringType))))

  /** In each mode, every (kernel, oracle) pair agrees on every string. */
  private def assertAgree(strings: Seq[String],
      pairs: Seq[(String, Column => Column, Column => Column)]): Unit = {
    val v = col("v")
    for ((mode, conf) <- Modes) graft.TestSpark.withConfs(conf.toSeq: _*) {
      val df = frame(strings)
      val differs = pairs
        .map { case (_, k, o) => !(k(v) <=> o(v)) }.reduce(_ || _)
      val q = df.where(differs).select(v +: pairs.flatMap {
        case (name, k, o) => Seq(k(v).as(s"$name"), o(v).as(s"${name}_was"))
      }: _*).limit(10)
      val bad = q.collect()
      val compiled = q.queryExecution.executedPlan
        .exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(compiled === (mode == "CODEGEN_ONLY"), mode)
      assert(bad.isEmpty, s"$mode: kernel and oracle differ on " +
        bad.map(_.toSeq.map(x => if (x == null) "null" else s"'$x'")
          .mkString("(", ", ", ")")).mkString("; "))
    }
  }

  // ---- strip kernel -----------------------------------------------------

  private val NearMisses = Seq("\u0000", "\u0001", "\u0084", "\u0086",
    "\u00a1", "\u00c2", "\u0145", "\u2028", "\u3000", "\ud83d\ude00")
  private val Cores = Seq("a", "Z", "None", "none", "NONE", "P1", "\u00e9",
    "\u6570", "x y", "\u0085\u0085", "\u00a0x")

  private def stripCorpus(rnd: Random, n: Int): Seq[String] = {
    val ws = Normalize.Whitespace.map(_.toString)
    def piece(): String = rnd.nextInt(4) match {
      case 0 | 1 => ws(rnd.nextInt(ws.length))
      case 2 => NearMisses(rnd.nextInt(NearMisses.length))
      case _ => Cores(rnd.nextInt(Cores.length))
    }
    val singles = (ws ++ NearMisses ++ Cores).flatMap(a =>
      Seq(a, a + a, " " + a, a + " ", "x" + a, a + "x"))
    val random = Seq.fill(n)(Seq.fill(rnd.nextInt(9))(piece()).mkString)
    Seq("", null) ++ singles ++ random
  }

  test("strip kernel == nullif(btrim(v, Whitespace), '') on 100k strings") {
    val strings = stripCorpus(new Random(9001L), 100000)
    assert(strings.size > 100000)
    assert(strings.count(_ == "") > 1000)
    assertAgree(strings, Seq(
      ("trimToNull", Normalize.trimToNull, oldTrim),
      ("lowerNorm", Normalize.lowerNorm, (c: Column) => lower(oldTrim(c))),
      ("scrubNoneLiteral", Normalize.scrubNoneLiteral, oldScrub)))
  }

  test("strip kernel returns an unstripped value itself and a stripped " +
      "one as a slice of its bytes") {
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(
      "\u00a0 P\u0145\u0085\t")
    assert(StripToNull.strip(s).toString === "P\u0145")
    assert(StripToNull.strip(s).getBaseObject eq s.getBaseObject)
    val t = org.apache.spark.unsafe.types.UTF8String.fromString("P\u0145")
    assert(StripToNull.strip(t) eq t)
    assert(StripToNull.strip(org.apache.spark.unsafe.types.UTF8String
      .fromString("\u0085\u00a0\u001f")) === null)
  }

  // ---- date kernel ------------------------------------------------------

  /** Every row of the `parseDate` value table, and the calendar edges. */
  private val DateEdges = Seq(
    "2025-07-01", "2025-07-01T10:11:12", "2025-07-01t10:11:12",
    "2024-02-29", "", " 2025-07-01", "2025-07-01 ", "2025-7-1",
    "2025-07-01T10:11", "2025-07-01T10:11:12Z", "2025-07-01T10:11:12.5",
    "2025-02-29", "2025-06-31", "2025-07-01T25:00:00", "2025-07-01T",
    "T", "07/01/2025", "+12025-01-01", "-2025-01-01", "+002025-01-01",
    "0000-01-01", "12025-01-01", "+2025-01-01", "2025-07-01T23:59:59",
    "2025-07-01T24:00:00", "2025-07-01T10:60:00", "2025-07-01T10:11:60",
    "\uff12\uff10\uff12\uff15-07-01", "\u0662\u0660\u0662\u0665-07-01",
    "0000-02-29", "1900-02-29", "2000-02-29", "2100-02-29", "9999-12-31",
    "0001-01-01", "1969-12-31", "1970-01-01", "2025-00-10", "2025-13-01",
    "2025-01-00", "2025-01-32", "2025-04-31", "2025-07-01T00:00:00",
    "2025-07-01x10:11:12", "2025-07-01 10:11:12", "2025-07-01T10-11-12",
    "+2025-01-01T10:11:12", "-2025-07-01T10:11:12", "-0000-01-01",
    "+0000-01-01", "-0001-01-01", "+294247-01-01", "-290000-01-01",
    "bad-date", null)

  private val DateAlphabet =
    "0123456789--TTtt::++  aZ\uff12\u0662".toSeq

  private def date(rnd: Random, sep: Char): String = {
    def two(hi: Int) = f"${rnd.nextInt(hi)}%02d"
    val d = f"${rnd.nextInt(10000)}%04d-${two(20)}-${two(40)}"
    if (rnd.nextBoolean()) d
    else s"$d$sep${two(30)}:${two(70)}:${two(70)}"
  }

  private def dateCorpus(rnd: Random, n: Int): Seq[String] = {
    def sep() = if (rnd.nextInt(10) == 0) DateAlphabet(rnd.nextInt(
      DateAlphabet.size)) else if (rnd.nextBoolean()) 'T' else 't'
    def mutate(s: String): String = {
      val i = rnd.nextInt(s.length)
      val c = DateAlphabet(rnd.nextInt(DateAlphabet.size))
      rnd.nextInt(3) match {
        case 0 => s.updated(i, c)
        case 1 => s.patch(i, Seq(c), 0)
        case _ => s.patch(i, Nil, 1)
      }
    }
    // Signed years reach past what a timestamp can hold, where the
    // java.time parse throws (see the test below).
    def signed(): String = {
      val y = rnd.nextInt(1000000).toString
      val width = y.length + rnd.nextInt(3)
      val sign = if (rnd.nextBoolean()) "+" else "-"
      sign + ("0" * (width - y.length)) + y + date(rnd, sep()).drop(4)
    }
    Seq.fill(n)(rnd.nextInt(8) match {
      case 0 | 1 | 2 => date(rnd, sep())
      case 3 | 4 => mutate(date(rnd, sep()))
      case 5 => Seq.fill(rnd.nextInt(22))(
        DateAlphabet(rnd.nextInt(DateAlphabet.size))).mkString
      case _ => signed()
    })
  }

  test("date kernel == the java.time parse on 120k strings") {
    val strings = DateEdges ++ dateCorpus(new Random(9002L), 120000)
    assertAgree(strings, Seq(("parseDate", Normalize.parseDate, oldDate)))
    // The corpus reaches both outcomes of both shapes.
    val v = col("v")
    val parsed = frame(strings).where(v.isNotNull)
      .select(Normalize.parseDate(v).as("d"), length(v).as("n"),
        (v.startsWith("+") || v.startsWith("-")).as("signed"))
      .groupBy("n", "signed").agg(count(col("d")).as("ok"),
        count(lit(1)).as("all"))
      .collect().map(r => (r.getInt(0), r.getBoolean(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    for (k <- Seq((10, false), (19, false))) {
      val (ok, all) = parsed(k)
      assert(ok > 1000 && all - ok > 1000, s"$k: $ok of $all parse")
    }
    // Every signed value is null.
    val signed = parsed.toSeq.collect { case ((_, true), okAll) => okAll }
    assert(signed.map(_._2).sum > 10000 && signed.map(_._1).sum === 0)
  }

  test("a signed year past the timestamp range gives null") {
    val v = col("v")
    val values = Seq("+294248-01-01", "-300000-01-01T10:11:12",
      "+123456789-01-01")
    for (s <- values) {
      val e = intercept[Exception](
        frame(Seq(s)).select(javaTimeDate(v)).collect())
      val cause = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq.last
      assert(cause.isInstanceOf[ArithmeticException], s)
    }
    for ((mode, conf) <- Modes) graft.TestSpark.withConfs(conf.toSeq: _*) {
      val got = frame(values).select(Normalize.parseDate(v)).collect()
      assert(got.map(_.get(0)).toSeq === Seq(null, null, null), mode)
    }
  }
}
