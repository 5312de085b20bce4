package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps the Spark-side fixpoint loop written once, in
  * `Fixpoint.scala`: no other operator pairs a lazy `localCheckpoint`
  * with a convergence `count()` in a loop, and the iterative operators
  * go through `Fixpoint`.
  */
class FixpointGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft/operators")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found")
    Using.resource(Files.list(root))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
  }

  /** The source without its comments, so prose cannot trip the scan. */
  private def code(p: Path): String =
    Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val LazyCheckpoint =
    """localCheckpoint\(\s*(eager\s*=\s*)?false\s*\)""".r
  private val Loop = """\b(while|for|do)\b|\.foreach\b|foldLeft|Iterator\.iterate""".r

  test("only Fixpoint.scala pairs a lazy checkpoint with a count in a loop") {
    val (helper, others) =
      sources.partition(_.getFileName.toString == "Fixpoint.scala")
    assert(helper.size === 1)
    val offenders = others.filter { p =>
      val text = code(p)
      LazyCheckpoint.findFirstIn(text).nonEmpty && text.contains(".count()") &&
        Loop.findFirstIn(text).nonEmpty
    }.map(_.getFileName)
    assert(offenders.isEmpty,
      s"${offenders.mkString(", ")}: run the rounds through Fixpoint")
  }

  test("the iterative operators run through Fixpoint, and the loop is " +
      "written once") {
    val all = sources.map(p => p.getFileName.toString -> code(p)).toMap
    for (op <- Seq("BfsHops", "KCore", "TransitiveClosure",
        "ConnectedComponents"))
      assert("""Fixpoint(\.growing)?\(""".r.findFirstIn(all(s"$op.scala"))
        .nonEmpty, s"$op does not run through Fixpoint")
    for (op <- Seq("PageRank", "Hits"))
      assert(all(s"$op.scala").contains("Fixpoint.collect("),
        s"$op does not collect through Fixpoint")
    assert(all.values.map("did not converge".r.findAllMatchIn(_).size).sum === 1)
    assert(all.values.map(LazyCheckpoint.findAllMatchIn(_).size).sum === 2)
  }
}
