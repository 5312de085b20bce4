package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is a reported failure in the correctness dump and
  * in the bench, never a result or a timing.
  */
class EntryPointFailureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Query = (SparkSession, String) => DataFrame
  private val good: Query = (s, _) => s.range(3).toDF("id")
  private val bad: Query = (_, _) => throw new IllegalStateException("boom")

  test("Verify.dump reports a throwing query and leaves no stale result") {
    val out = Files.createTempDirectory("graft-verify")
    for (name <- Seq("good", "bad")) {
      Files.createDirectories(out.resolve(name))
      Files.writeString(out.resolve(name).resolve("stale.parquet"), "old run")
    }
    val failed = Verify.dump(spark, "", out.toString, Seq("good" -> good, "bad" -> bad))
    assert(failed === Seq("bad"))
    assert(!Files.exists(out.resolve("bad")))
    val written = out.resolve("good").toFile.list().toSeq
    assert(!written.contains("stale.parquet"))
    assert(spark.read.parquet(out.resolve("good").toString).count() === 3)
  }

  test("Bench.sample records a throwing query as a failure, not a sample") {
    assert(Bench.sample(spark, "", good, 2).map(_.size) === Right(2))
    assert(Bench.sample(spark, "", bad, 3) === Left("java.lang.IllegalStateException"))

    var calls = 0
    val flaky: Query = (s, d) => {
      calls += 1
      if (calls == 2) bad(s, d) else good(s, d)
    }
    assert(Bench.sample(spark, "", flaky, 3) === Left("java.lang.IllegalStateException"))
    assert(calls === 2, "sampling stops at the first throw")
    // A failure stays one when more samples are asked for.
    assert(Bench.sample(spark, "", flaky, 2, Left("x")) === Left("x"))
    assert(calls === 2)
  }
}
