package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The one session posture every entry point runs under, and the guard
  * that keeps `GraftSession` the only place a session is built.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a GraftSession runs local[cpus] with cpus shuffle partitions, UTC, no UI") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("a GraftSession forces periodic GC and leaves the AQE floor at Spark's default") {
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") === "2min")
    val floor = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE
    assert(spark.sessionState.conf.getConf(floor) === floor.defaultValue.get)
  }

  test("a GraftSession carries the engine's functions and planner strategy") {
    // A new session shares the context but none of the functions that
    // GraftFunctions.register put on the first one.
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT nfc_normalize('cafe\u0301')").head().getString(0)
      === "caf\u00e9")
    assert(fresh.sessionState.planner.strategies
      .contains(graft.plans.AsOfJoinStrategy))
  }

  test("no source file but GraftSession.scala builds its own session") {
    val call = """SparkSession\s*\.\s*(builder\b|Builder\s*\()""".r
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    def sources(root: Path): Seq[Path] =
      Using.resource(Files.walk(root))(_.iterator.asScala.toList)
        .filter(_.toString.endsWith(".scala"))
    val (factory, others) = roots.flatMap(sources)
      .partition(_.getFileName.toString == "GraftSession.scala")
    val offenders = others
      .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession: ${offenders.mkString(", ")}")
    assert(factory.size === 1)
  }
}
