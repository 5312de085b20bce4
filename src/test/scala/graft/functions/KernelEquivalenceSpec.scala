package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 optimization kernels must be DROP-IN equivalents of the
  * declarative forms they replaced — each test pins the new kernel
  * against the exact formulation it displaced, on adversarial inputs
  * (empties, shorties, unicode, duplicates, unsorted rejects).
  */
class KernelEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("Md5PackArr == element-wise Md5Pack (order kept, null elements null)") {
    val rows = Seq(
      Seq("a", "bb", "ccc"),
      Seq.empty[String],
      Seq("café", "über", "数据"),
      Seq("dup", "dup", "x"))
    val df = rows.toDF("arr")
    val got = df.select(Md5PackArr(col("arr")).as("h")).collect()
      .map(_.getSeq[Long](0))
    val want = df.select(transform(col("arr"), x => Md5Pack(x)).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == want.toSeq)
    // null array -> null (UnaryExpression null-safe wrapper)
    val nul = Seq(Option.empty[Seq[String]]).toDF("arr")
      .select(Md5PackArr(col("arr"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("SortedLongIntersect == array_intersect on sorted distinct longs") {
    val rows = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(4L), Seq(4L)),
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 8L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L)))
    val df = rows.toDF("a", "b")
    val got = df.select(SortedLongIntersect(col("a"), col("b")))
      .collect().map(_.getSeq[Long](0))
    val want = df.select(array_intersect(col("a"), col("b")))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == want.toSeq)
  }

  test("SortedLongIntersect rejects unsorted or duplicated input") {
    // Each would lose a match in a merge walk: the 3 after 5 in the first
    // lies past the point where the other array ran out.
    val rows = Seq(
      (Seq(1L, 5L, 3L), Seq(3L)),
      (Seq(2L, 4L), Seq(9L, 4L)),
      (Seq(1L, 1L, 2L), Seq(1L, 2L)),
      (Seq(7L), Seq(1L, 8L, 8L)))
    for ((a, b) <- rows) {
      val df = Seq((a, b)).toDF("a", "b")
      val e = intercept[Exception](
        df.select(SortedLongIntersect(col("a"), col("b"))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(
          "not strictly ascending")), s"$a, $b: $e")
    }
  }

  test("CharNgramsAllOf == transform(sequence) windows (multiplicity kept)") {
    val rows = Seq("abcabc", "", "a", "ab", "日本語テキスト", "xx")
    val df = rows.toDF("s")
    for (n <- Seq(2, 3)) {
      val got = df.select(CharNgramsAllOf(col("s"), n)).collect()
        .map(_.getSeq[String](0))
      // (guarded: a bare sequence(1, len-1) DESCENDS for len < n and
      // double-counts the short string — the declarative trap the
      // kernel also closes)
      val want = df.select(expr(
        s"CASE WHEN length(s) >= $n THEN " +
          s"transform(sequence(1, length(s) - ${n - 1}), " +
          s"i -> substring(s, i, $n)) " +
          "ELSE array() END")).collect()
        .map(_.getSeq[String](0))
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
  }
}
