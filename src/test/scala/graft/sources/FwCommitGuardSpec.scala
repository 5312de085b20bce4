package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps each FixedWidth commit step written once, in
  * `FwCommit.scala`: no other source file names the manifest, moves a
  * file with ATOMIC_MOVE or renames a staged data file or sidecar, and
  * the helpers themselves hold one manifest parser, one manifest
  * writer, one version-append step, one publish rename and one atomic
  * JSON write.
  */
class FwCommitGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft/sources")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found")
    Using.resource(Files.list(root))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
  }

  private def count(text: String, needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size

  test("only FwCommit.scala names the manifest, moves atomically or " +
      "renames a staged file") {
    val (helpers, others) =
      sources.partition(_.getFileName.toString == "FwCommit.scala")
    assert(helpers.size === 1)
    val rules = Seq(
      "_fw_versions.json" -> "names the manifest (use FwVersions)",
      "ATOMIC_MOVE" -> "moves a file atomically (use FwPublish.writeJson)",
      "renameTo(" -> "renames a file (use FwPublish.publish)")
    val offenders = for {
      p <- others
      text = Files.readString(p)
      (needle, what) <- rules
      if text.contains(needle)
    } yield s"${p.getFileName} $what"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("each commit step is written once") {
    val all = sources.map(p => p.getFileName.toString -> Files.readString(p))
    val helper = all.collectFirst { case ("FwCommit.scala", t) => t }.get
    def total(needle: String): Int = all.map(t => count(t._2, needle)).sum
    assert(total("def commitSnapshotLocked") === 1)
    // the one manifest parser and the one manifest writer
    assert(count(helper, "JsonMethods.parse(") === 1)
    assert(count(helper, "FwPublish.writeJson(manifestFor(") === 1)
    // publish, sweep and removal each have one body
    assert(count(helper, ".renameTo(") === 1)
    assert(total("def publish(staged: java.io.File") === 1)
    assert(total("def sweep(staged") === 1)
    assert(total("def remove(data") === 1)
    assert(count(helper, "ATOMIC_MOVE") === 1)
    // the staged-sidecar name is derived in one place
    assert(total("stripSuffix(\".tmp\")) + \".tmp\"") === 1)
  }
}
