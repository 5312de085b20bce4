package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Legacy `_fw_versions.json` manifests, written by hand and read
  * through the public surfaces only (reads, history, vacuum, restore,
  * idempotent appends):
  *  - a version without `op` shows `unknown` in history;
  *  - a version without an integer `ts` is never a `timestampAsOf`
  *    target;
  *  - a name-only file entry reads at the file's live length;
  *  - vacuum and restore leave every version they do not touch
  *    byte-identical, and restore's commit time is strictly later than
  *    every earlier one;
  *  - an `(appId, txnVersion)` the manifest already records commits
  *    nothing.
  */
class FwManifestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val spec = "id:long:7"

  /** One data file of `id:long:7` records (8 bytes each). */
  private def dataFile(dir: String, name: String, ids: Long*): Unit =
    Files.write(new java.io.File(dir, name).toPath,
      ids.map(i => f"$i%7d\n").mkString.getBytes(UTF_8))

  private def manifest(dir: String, versions: String*): Unit =
    Files.write(new java.io.File(dir, "_fw_versions.json").toPath,
      versions.mkString("{\"versions\":[", ",", "]}").getBytes(UTF_8))

  private def manifestText(dir: String): String =
    new String(Files.readAllBytes(
      new java.io.File(dir, "_fw_versions.json").toPath), UTF_8)

  private def reader = spark.read.format("graft.sources.FixedWidth")
    .option("schema", spec)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def history(dir: String): Seq[(Long, String)] =
    reader.option("history", "true").load(dir).orderBy("version")
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("legacy entries: no op reads as unknown, no integer ts is never " +
      "a timestamp target, a name-only file reads at its live length") {
    val dir = Files.createTempDirectory("fwman1").toFile.getAbsolutePath
    dataFile(dir, "a.fw", 1L, 2L, 3L)
    dataFile(dir, "b.fw", 9L)
    manifest(dir,
      """{"v":1,"files":["a.fw"]}""",
      """{"v":2,"files":[{"n":"a.fw","b":16}],"ts":"later","op":"overwrite"}""",
      """{"v":3,"files":[{"n":"a.fw","b":16},{"n":"b.fw","b":8}],""" +
        """"ts":1000,"op":"append"}""")

    assert(history(dir) ===
      Seq((1L, "unknown"), (2L, "overwrite"), (3L, "append")))
    // name-only: the file's whole current length; pinned: its prefix
    assert(ids(reader.option("versionAsOf", "1").load(dir)) === Set(1L, 2L, 3L))
    assert(ids(reader.option("versionAsOf", "2").load(dir)) === Set(1L, 2L))
    assert(ids(reader.option("versionAsOf", "3").load(dir)) === Set(1L, 2L, 9L))

    // v1 (no ts) and v2 (a non-integer ts) are older than v3, but only
    // v3 has a commit time a timestamp pin can resolve to
    assert(ids(reader.option("timestampAsOf", "2000").load(dir))
      === Set(1L, 2L, 9L))
    val e = intercept[Exception] {
      reader.option("timestampAsOf", "999").load(dir).collect()
    }
    assert(e.getMessage.contains("no version at or before timestamp 999")
      && e.getMessage.contains("commits span 1000..1000"), e.getMessage)
  }

  test("vacuum and restore keep untouched versions byte-identical; " +
      "restore's commit time is later than every earlier one; a " +
      "recorded txn burns no version") {
    val dir = Files.createTempDirectory("fwman2").toFile.getAbsolutePath
    dataFile(dir, "a.fw", 1L)
    dataFile(dir, "b.fw", 2L)
    // v3's commit time is a day ahead of the wall clock
    val future = System.currentTimeMillis() + 24L * 3600 * 1000
    val v1 = """{"v":1,"files":[{"n":"a.fw","b":8}]}"""
    val v2 = """{"v":2,"files":[{"n":"a.fw","b":8},{"n":"b.fw","b":8}],""" +
      """"txn":{"a":"app1","tv":7}}"""
    val v3 = """{"v":3,"files":[{"n":"b.fw","b":8}],""" +
      s""""ts":$future,"op":"append"}"""
    manifest(dir, v1, v2, v3)

    val vac = FwMaintenance.vacuum(spark, dir, retainLast = 2)
    assert(vac.versionsDropped === 1 && vac.orphanFilesRemoved === 0,
      vac.toString)
    assert(manifestText(dir) === s"""{"versions":[$v2,$v3]}""")

    val r = FwMaintenance.restore(dir, 2L)
    assert(r.newVersion === 4L)
    val after = manifestText(dir)
    assert(after.startsWith(s"""{"versions":[$v2,$v3,{"v":4,"""), after)
    val ts = FwMaintenance.commitTimestamps(dir)
    assert(ts(2L) === -1L && ts(3L) === future)
    assert(ts(4L) > future, s"restore's ts must follow v3's: $ts")
    assert(history(dir) ===
      Seq((2L, "unknown"), (3L, "append"), (4L, "restore")))
    assert(ids(reader.load(dir)) === Set(1L, 2L))

    // app1 committed txnVersion 7 in v2: 7 and below are duplicates
    def append(id: Long, tv: Long): Unit =
      Seq(id).toDF("id").repartition(1).write
        .format("graft.sources.FixedWidth").option("schema", spec)
        .option("txnAppId", "app1").option("txnVersion", tv.toString)
        .mode("append").save(dir)
    append(5L, 7L)
    append(6L, 3L)
    assert(manifestText(dir) === after, "a duplicate txn burns no version")
    assert(ids(reader.load(dir)) === Set(1L, 2L))
    append(8L, 8L)
    assert(history(dir).map(_._1) === Seq(2L, 3L, 4L, 5L))
    assert(ids(reader.load(dir)) === Set(1L, 2L, 8L))
  }
}
