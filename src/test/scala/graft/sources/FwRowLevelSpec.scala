package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL UPDATE / MERGE INTO / non-key DELETE through the group-based
  * copy-on-write row-level operation: zone-map group pruning keeps
  * untouched files in place, the rewrite retires scanned files into
  * retained history, deletion vectors materialize away instead of
  * resurrecting rows, and key-shaped DELETEs keep taking the cheap
  * metadata (deletion-vector) path.
  */
class FwRowLevelSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.fwrl", classOf[FwCatalog].getName)
    s
  }

  private var n = 0
  /** 8 rows over 2 range files (ids 1-4 and 5-8). */
  private def fresh(): (String, String) = {
    n += 1
    val dir = Files.createTempDirectory("fwrl").toFile.getAbsolutePath
    val t = s"fwrl.ns.t$n"
    spark.sql(s"""CREATE TABLE $t (id BIGINT, name STRING, score DOUBLE)
      OPTIONS (path '$dir', widths '4,6,10')""")
    import spark.implicits._
    (1L to 8L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "score")
      .repartitionByRange(2, col("id"))
      .createOrReplaceTempView(s"fwrl_src$n")
    spark.sql(s"INSERT INTO $t SELECT * FROM fwrl_src$n")
    (t, dir)
  }

  private def rows(t: String): Map[Long, (String, Double)] =
    spark.sql(s"SELECT id, name, score FROM $t").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

  private def liveNames(dir: String): Set[String] =
    FwFiles.list(dir).map(_.getName).toSet

  test("UPDATE with a key predicate rewrites ONLY the file whose zone " +
      "map may hold the key; the pre-update pin still reads") {
    val (t, dir) = fresh()
    val before = liveNames(dir)
    assert(before.size === 2)
    spark.sql(s"UPDATE $t SET score = 99.0, name = 'UPD' WHERE id = 6")
    val got = rows(t)
    assert(got(6L) === (("UPD", 99.0)))
    assert(got(5L) === (("n5", 7.5)), "neighbors in the file survive")
    assert(got.size === 8)
    val after = liveNames(dir)
    // the ids 1-4 file is untouched (still live under its old name);
    // the ids 5-8 file was replaced by a cow- file
    assert((before intersect after).size === 1,
      s"group pruning: one file kept, got $before -> $after")
    assert(after.exists(_.startsWith("cow-")))
    // v1 pin: the original rows
    assert(spark.sql(s"SELECT score FROM $t VERSION AS OF 1 WHERE id = 6")
      .collect()(0).getDouble(0) === 9.0)
  }

  test("UPDATE without WHERE rewrites the whole table; expressions over " +
      "existing columns evaluate row-side") {
    val (t, _) = fresh()
    spark.sql(s"UPDATE $t SET score = score + 0.5")
    val got = rows(t)
    assert(got.size === 8)
    (1L to 8L).foreach(i => assert(got(i)._2 === i * 1.5 + 0.5))
  }

  test("DELETE with a range predicate (the shape the metadata path " +
      "declines) now runs as a COW rewrite") {
    val (t, dir) = fresh()
    spark.sql(s"DELETE FROM $t WHERE score > 9.0") // ids 7, 8
    assert(rows(t).keySet === (1L to 6L).toSet)
    // and a multi-column condition
    spark.sql(s"DELETE FROM $t WHERE id = 1 AND name = 'n1'")
    assert(rows(t).keySet === (2L to 6L).toSet)
    // key-shaped DELETE still takes the DV path: zero rewrites
    val filesBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fw"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    val filesAfter = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fw"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    assert(filesAfter === filesBefore,
      "a key delete must stay merge-on-read (no file rewritten)")
    assert(rows(t).keySet === Set(2L, 4L, 5L, 6L))
  }

  test("MERGE INTO: matched UPDATE + not-matched INSERT + matched " +
      "DELETE clauses") {
    val (t, _) = fresh()
    import spark.implicits._
    Seq((2L, "two", 22.0), (8L, "eight", 88.0), (9L, "nine", 99.0))
      .toDF("id", "name", "score").createOrReplaceTempView(s"fwrl_delta$n")
    spark.sql(s"""MERGE INTO $t AS tgt USING fwrl_delta$n AS src
      ON tgt.id = src.id
      WHEN MATCHED AND src.id = 8 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = src.name, score = src.score
      WHEN NOT MATCHED THEN INSERT (id, name, score)
        VALUES (src.id, src.name, src.score)""")
    val got = rows(t)
    assert(got(2L) === (("two", 22.0)))
    assert(!got.contains(8L), "matched DELETE clause erased id 8")
    assert(got(9L) === (("nine", 99.0)), "not-matched INSERT landed")
    assert(got(5L) === (("n5", 7.5)), "untouched rows copied verbatim")
    assert(got.size === 8)
  }

  test("a COW UPDATE over a DV'd table materializes the vector and " +
      "does not resurrect the dead row") {
    val (t, dir) = fresh()
    spark.sql(s"DELETE FROM $t WHERE id = 5") // DV path, v2
    spark.sql(s"UPDATE $t SET score = 0.0 WHERE id > 4") // rewrites file 2
    val got = rows(t)
    assert(!got.contains(5L), "the DV'd row stays dead through the rewrite")
    assert(Seq(6L, 7L, 8L).forall(got(_)._2 === 0.0))
    assert(got.size === 7)
    assert(FwFiles.list(dir).forall(f => FwDv.read(f.getPath).isEmpty),
      "the rewrite materialized the DV out of the live set")
  }

  test("UPDATE matching nothing statically (zone maps exclude every " +
      "file) burns no version") {
    val (t, dir) = fresh()
    val versions = FwVersions.read(dir).map(_.v)
    spark.sql(s"UPDATE $t SET score = 1.0 WHERE id = 999")
    assert(FwVersions.read(dir).map(_.v) === versions,
      "statically-empty rewrite must not burn a snapshot version")
    assert(rows(t).size === 8)
  }
}
