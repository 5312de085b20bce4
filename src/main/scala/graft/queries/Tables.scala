package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loader for the harness testdata directories. */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** A clean per-sf fixture dir under java.io.tmpdir for FW-table
    * queries: recreated empty on every call. Deletion is RECURSIVE —
    * fixture tables carry subdirectories (hive partition dirs,
    * materialized change data under `_fw_changes/`).
    */
  def freshFwBase(tag: String, dir: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(System.getProperty("java.io.tmpdir"),
      tag, Paths.get(dir).getFileName.toString)
    if (Files.exists(base))
      Option(base.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(graft.sources.FwFiles.deleteTree)
    Files.createDirectories(base)
    base
  }

  /** The events table's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark 4 rejects outright;
    * readable only as nanos-since-epoch longs via the legacy conf),
    * plain TIMESTAMP(MICROS) without the UTC flag (read as
    * TIMESTAMP_NTZ), or an already-zoned TIMESTAMP. Normalize all three
    * to microsecond TimestampType so every downstream query sees ONE
    * schema. The NTZ cast reinterprets wall-clock in the session zone;
    * every entry point (Verify/Bench/tests/CLI) pins UTC, so the
    * instants match DuckDB's zone-naive reading of the same parquet.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact integer cents of a 2-decimal money column, as BIGINT. */
  private[queries] def centsLong(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Exact integer cents of a 2-decimal money column, as DECIMAL(18,0). */
  private[queries] def centsDecimal(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("decimal(18,0)")

  /** Corpus word counts `(w, cnt)` over the documents' `[a-z]+` runs —
    * the input the tokenizer queries (t58, t60, t62–t65) share.
    */
  private[queries] def wordCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(expr(
        "regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** DuckDB replica of the graft.functions.Md5Pack 62-bit hash over SQL
    * expression `e` — shared by every md5-anchored oracle.
    */
  private[queries] def duckMd5Pack(e: String): String =
    s"""((CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT) % 2147483647) * 2147483648
       | + (CAST(concat('0x', substr(md5($e), 16, 15)) AS BIGINT) % 2147483647))""".stripMargin
}
