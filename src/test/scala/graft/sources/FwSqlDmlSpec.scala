package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL DML + stored-procedure surface of the fixed-width catalog:
  * `DELETE FROM` routed through SupportsDeleteV2 to merge-on-read
  * deletion vectors, empty-predicate DELETE/TRUNCATE retiring the live
  * set into retained history, unsupported shapes failing loudly, and
  * the `CALL fw.<proc>(…)` maintenance procedures with their report
  * rows.
  */
class FwSqlDmlSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.fwdml", classOf[FwCatalog].getName)
    s
  }

  private var n = 0
  /** Fresh table with 8 rows over 2 files; returns (sqlName, dir). */
  private def fresh(): (String, String) = {
    n += 1
    val dir = Files.createTempDirectory("fwdml").toFile.getAbsolutePath
    val t = s"fwdml.ns.t$n"
    spark.sql(s"""CREATE TABLE $t (id BIGINT, name STRING, score DOUBLE)
      OPTIONS (path '$dir', widths '4,6,10')""")
    spark.sql(s"""INSERT INTO $t VALUES
      (1,'n1',1.5),(2,'n2',3.0),(3,'n3',4.5),(4,'n4',6.0)""")
    spark.sql(s"""INSERT INTO $t VALUES
      (5,'n5',7.5),(6,'n6',9.0),(7,'n7',10.5),(8,'n8',12.0)""")
    (t, dir)
  }

  private def ids(t: String): Seq[Long] =
    spark.sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq

  private def dataFiles(dir: String) =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fw"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted

  test("DELETE FROM … WHERE id IN (…) is merge-on-read: deletion " +
      "vectors, zero data files rewritten, time travel intact") {
    val (t, dir) = fresh()
    val before = dataFiles(dir)
    spark.sql(s"DELETE FROM $t WHERE id IN (2, 5, 777)")
    assert(ids(t) === Seq(1L, 3L, 4L, 6L, 7L, 8L))
    assert(dataFiles(dir) === before, "SQL DELETE must not rewrite data")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".fwdv")), "DV sidecars were written")
    // the pre-delete pin still reads all 8 (v1, v2 = the two INSERTs)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2")
      .collect()(0).getLong(0) === 8L)
  }

  test("DELETE FROM … WHERE id = k; a key the table does not hold is " +
      "a clean no-op that burns no version") {
    val (t, dir) = fresh()
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    assert(ids(t) === Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L))
    val versions = FwVersions.read(dir).map(_.v)
    spark.sql(s"DELETE FROM $t WHERE id = 999")
    assert(FwVersions.read(dir).map(_.v) === versions,
      "a no-match delete must not burn a snapshot version")
    assert(ids(t).size === 7)
  }

  test("DELETE FROM … on a string key") {
    val (t, _) = fresh()
    spark.sql(s"DELETE FROM $t WHERE name IN ('n1', 'n8')")
    assert(ids(t) === (2L to 7L))
  }

  test("DELETE FROM without WHERE truncates into retained history: " +
      "live set empty, pins keep reading, inserts restart") {
    val (t, dir) = fresh()
    spark.sql(s"DELETE FROM $t")
    assert(spark.sql(s"SELECT count(*) FROM $t")
      .collect()(0).getLong(0) === 0L)
    // both inserts' files are retained for the pins
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2")
      .collect()(0).getLong(0) === 8L)
    assert(dataFiles(dir).size === 8, "files retained, not deleted")
    spark.sql(s"INSERT INTO $t VALUES (100,'new',0.0)")
    assert(ids(t) === Seq(100L))
  }

  test("DELETE shapes the metadata path declines fall through to the " +
      "COW row-level rewrite and still delete correctly") {
    val (t, _) = fresh()
    // non-key column type (double), range predicate, multi-column AND,
    // LIKE — all shapes canDeleteWhere declines (FwRowLevelSpec pins
    // that key-shaped deletes stay on the zero-rewrite DV path)
    spark.sql(s"DELETE FROM $t WHERE score > 5.0 AND score < 8.0") // 4,5
    assert(ids(t) === Seq(1L, 2L, 3L, 6L, 7L, 8L))
    spark.sql(s"DELETE FROM $t WHERE name LIKE 'n8%'")
    assert(ids(t) === Seq(1L, 2L, 3L, 6L, 7L))
  }

  test("SELECT _file exposes row provenance; files() grouping counts " +
      "match file sizes") {
    val (t, dir) = fresh()
    val byFile = spark.sql(
      s"SELECT _file, count(*) AS n FROM $t GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile.values.sum === 8L)
    assert(byFile.keySet.forall(_.endsWith(".fw")))
    // each file's count is its bytes / record length (4+6+10+3 pads…)
    val rowLen = FixedWidth.widths(
      FixedWidth.parseSchema("id:long:4,name:string:6,score:double:10"))
      .sum + 1
    byFile.foreach { case (name, cnt) =>
      assert(new java.io.File(dir, name).length() === cnt * rowLen)
    }
  }

  test("CALL fw.optimize compacts and reports; named arguments bind") {
    val (t, dir) = fresh()
    val r = spark.sql(
      s"CALL fwdml.optimize(tbl => 'ns.t$n', target_bytes => 1048576)")
      .collect()(0)
    assert(r.getInt(1) === 8 && r.getInt(2) === 1, r.toString) // 8 -> 1
    assert(r.getLong(0) === 3L, "compaction commits v3")
    assert(ids(t).size === 8)
  }

  test("CALL fw.truncate + fw.vacuum + history: the full lifecycle " +
      "from SQL") {
    val (t, dir) = fresh()
    val tv = spark.sql(s"CALL fwdml.truncate('ns.t$n')").collect()(0)
    assert(tv.getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0)
      .getLong(0) === 0L)
    val v = spark.sql(s"CALL fwdml.vacuum('ns.t$n', 1)").collect()(0)
    assert(v.getInt(0) === 1 && v.getInt(1) === 2, v.toString)
    assert(v.getInt(3) === 8, "the 8 retained files swept")
    assert(dataFiles(dir).isEmpty)
  }

  test("CALL fw.rollback restores a pre-delete snapshot") {
    val (t, _) = fresh()
    spark.sql(s"DELETE FROM $t WHERE id = 1") // v3 (DV)
    assert(ids(t).size === 7)
    val r = spark.sql(s"CALL fwdml.rollback('ns.t$n', 2)").collect()(0)
    assert(r.getInt(0) === 1, r.toString)
    assert(ids(t).size === 8, "the DV delete rolled back")
  }

  test("CALL fw.clone hard-links the snapshot; the clone reads " +
      "standalone") {
    val (t, _) = fresh()
    val dst = Files.createTempDirectory("fwdmlcl").toFile.getAbsolutePath
    new java.io.File(dst).delete()
    val r = spark.sql(s"CALL fwdml.clone('ns.t$n', '$dst')").collect()(0)
    assert(r.getInt(0) === 8, r.toString) // the 8 data files
    val cloned = spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:4,name:string:6,score:double:10")
      .load(dst)
    assert(cloned.count() === 8L)
  }

  test("an unknown procedure fails with the available list") {
    val e = intercept[Exception] {
      spark.sql("CALL fwdml.frobnicate('x')").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("frobnicate")
      || m.contains("PROCEDURE")), msgs(e).mkString(" | "))
  }
}
