package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FixedWidthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val spec = "id:long:4,name:string:6,score:double:10"
  private val schema = FixedWidth.parseSchema(spec)

  private def writeFixture(rows: Seq[Seq[Any]]): String = {
    val dir = Files.createTempDirectory("fwspec").toFile
    Files.write(dir.toPath.resolve("data.fw"),
      FixedWidthWriter.render(schema, rows))
    dir.getAbsolutePath
  }

  private val rows = Seq(
    Seq[Any](1L, "alpha", 1.5),
    Seq[Any](2L, "beta", -0.25),
    Seq[Any](3L, "gamma", 12.0),
    Seq[Any](4L, null, 3.0),
    Seq[Any](5L, "ep s", 0.125),
    Seq[Any](6L, "zeta", -7.5),
    Seq[Any](7L, "eta", 100.0))

  test("round-trips all rows and types; all-space field reads as null") {
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(writeFixture(rows))
    val got = df.orderBy("id").collect()
    assert(got.length === 7)
    assert(got(0).getLong(0) === 1L && got(0).getString(1) === "alpha"
      && got(0).getDouble(2) === 1.5)
    assert(got(3).isNullAt(1), "all-space string field must be NULL")
    assert(got(4).getString(1) === "ep s", "internal spaces survive")
    assert(got(1).getDouble(2) === -0.25)
  }

  test("filters push to the reader and columns prune to the needed slices") {
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(writeFixture(rows))
      .filter(col("score") > 0 && col("id") < 7)
      .select("name")
    val got = df.collect().map(_.getString(0)).toSet
    assert(got === Set("alpha", "gamma", null, "ep s"))
    val summary = FixedWidth.lastScanSummary
    assert(summary.contains("read=[name]"), s"columns not pruned: $summary")
    assert(summary.contains("GreaterThan(score,"), s"score filter not pushed: $summary")
    assert(summary.contains("LessThan(id,"), s"id filter not pushed: $summary")
  }

  test("unsupported filters stay residual and Spark still applies them") {
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(writeFixture(rows))
      .filter(col("name").endsWith("ta"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 6L, 7L))
    assert(!FixedWidth.lastScanSummary.contains("EndsWith"),
      "StringEndsWith must be rejected by pushFilters")
  }

  test("record-aligned splits: recordsPerSplit=2 over 7 records -> 4 partitions") {
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("recordsPerSplit", "2")
      .load(writeFixture(rows))
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 7)
    // split boundaries lose/duplicate nothing
    assert(df.agg(sum("id")).collect()(0).getLong(0) === 28L)
  }

  test("streamed records flow through watermark + windowed aggregation") {
    val evSpec = "uid:long:6,ts:long:12"
    val evSchema = FixedWidth.parseSchema(evSpec)
    val dir = Files.createTempDirectory("fwstreamagg").toFile
    Files.write(dir.toPath.resolve("ev.fw"), FixedWidthWriter.render(
      evSchema, Seq(Seq[Any](1L, 5L), Seq[Any](2L, 30L), Seq[Any](3L, 65L),
        Seq[Any](4L, 70L), Seq[Any](5L, 130L))))
    val q = spark.readStream.format("graft.sources.FixedWidth")
      .option("schema", evSpec).load(dir.getAbsolutePath)
      .withColumn("ets", timestamp_seconds(col("ts")))
      .withWatermark("ets", "10 seconds")
      .groupBy(window(col("ets"), "60 seconds")).count()
      .writeStream.format("memory").outputMode("complete")
      .queryName("fw_stream_agg").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fw_stream_agg")
        .selectExpr("unix_timestamp(window.start) as s", "count")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === Map(0L -> 2L, 60L -> 2L, 120L -> 1L))
      // late-arriving append lands in the right (still-open) window
      Files.write(dir.toPath.resolve("ev.fw"), FixedWidthWriter.render(
        evSchema, Seq(Seq[Any](6L, 135L))),
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val got2 = spark.table("fw_stream_agg")
        .selectExpr("unix_timestamp(window.start) as s", "count")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got2(120L) === 2L)
    } finally q.stop()
  }

  test("overflowing a field width is an error, not silent truncation") {
    intercept[IllegalArgumentException] {
      FixedWidthWriter.render(schema, Seq(Seq[Any](1L, "toolongname", 0.0)))
    }
  }

  test("count(*) completes as a metadata-only aggregate pushdown") {
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(writeFixture(rows))
    assert(df.agg(count(lit(1))).collect()(0).getLong(0) === 7L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg=count(*)"),
      s"count(*) did not push: ${FixedWidth.lastScanSummary}")
    // with a filter the metadata shortcut must NOT engage
    assert(df.filter(col("score") > 0).count() === 5L)
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"filtered count must scan: ${FixedWidth.lastScanSummary}")
  }

  test("distributed write: overwrite replaces, append accumulates, values round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwwrite").toFile.getAbsolutePath
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, "g", 0.125))
      .toDF("id", "name", "score").repartition(2)
    df.write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
    assert(back.count() === 3)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, "g", 0.125)))
    // append accumulates
    Seq((4L, "delta", 7.0)).toDF("id", "name", "score")
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("append").save(dir)
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir).count() === 4)
    // overwrite truncates the previous files
    Seq((9L, "only", 0.0)).toDF("id", "name", "score")
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir)
    val after = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir).collect()
    assert(after.length === 1 && after(0).getLong(0) === 9L)
  }

  test("write rejects a mismatched dataframe schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwbad").toFile.getAbsolutePath
    val e = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "other")
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode("overwrite").save(dir)
    }
    // with schema() = the declared layout, Spark's own write-compat
    // check rejects the frame before our builder even sees it
    assert(e.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE")
      || e.getMessage.contains("does not match table schema"),
      s"unexpected error: ${e.getMessage}")
  }

  test("reader differential: random layouts round-trip against an in-memory model") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 30) {
      val nf = 1 + rnd.nextInt(4)
      val fields = (0 until nf).map { i =>
        rnd.nextInt(4) match {
          case 0 => (s"f$i", "long", 14)
          case 1 => (s"f$i", "int", 9)
          case 2 => (s"f$i", "double", 24)
          case _ => (s"f$i", "string", 10)
        }
      }
      val sch = FixedWidth.parseSchema(
        fields.map { case (n, t, w) => s"$n:$t:$w" }.mkString(","))
      def randVal(tpe: String): Any =
        if (rnd.nextInt(8) == 0) null
        else tpe match {
          case "long" => rnd.nextLong() % 1000000000L
          case "int" => rnd.nextInt(2000001) - 1000000
          case "double" => (rnd.nextInt(2000001) - 1000000) / 128.0
          case _ =>
            // inner spaces allowed, edge spaces are pad (lossy by design)
            val s = (0 until rnd.nextInt(9)).map(_ =>
              "ab c9_Z".charAt(rnd.nextInt(7))).mkString.trim
            if (s.isEmpty) null else s
        }
      val rows = (0 until rnd.nextInt(20)).map(_ =>
        fields.map { case (_, t, _) => randVal(t) })
      val dir = Files.createTempDirectory("fwdiff")
      val f = dir.resolve("d.fw")
      Files.write(f, FixedWidthWriter.render(sch, rows))
      // random pushed filter on the first field when it is numeric
      val filt = fields.head match {
        case (n, "long", _) => Array[org.apache.spark.sql.sources.Filter](
          GreaterThan(n, 0L))
        case (n, "int", _) => Array[org.apache.spark.sql.sources.Filter](
          LessThanOrEqual(n, 0))
        case _ => Array.empty[org.apache.spark.sql.sources.Filter]
      }
      val reader = new FwReader(sch, sch.fieldNames, filt,
        FwPartition(f.toString, 0, rows.length))
      val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (reader.next()) {
        val r = reader.get()
        got += sch.fields.zipWithIndex.map { case (fd, i) =>
          if (r.isNullAt(i)) null
          else fd.dataType match {
            case org.apache.spark.sql.types.StringType => r.getUTF8String(i).toString
            case org.apache.spark.sql.types.LongType => r.getLong(i)
            case org.apache.spark.sql.types.IntegerType => r.getInt(i)
            case _ => r.getDouble(i)
          }
        }.toSeq
      }
      reader.close()
      val want = rows.map(_.toSeq).filter { r =>
        filt.isEmpty || (r.head match {
          case null => false
          case l: Long => l > 0L
          case i: Int => i <= 0
          case _ => true
        })
      }
      assert(got.toSeq === want,
        s"layout ${fields.mkString(",")} rows=$rows filt=${filt.mkString}")
    }
  }

  test("micro-batch stream: record-count offsets deliver appends exactly once") {
    val dir = Files.createTempDirectory("fwstream").toFile
    val file = dir.toPath.resolve("data.fw")
    Files.write(file, FixedWidthWriter.render(schema, rows.take(3)))
    val q = spark.readStream.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("fw_stream_mem").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fw_stream_mem").count() === 3L)
      // append two records to the SAME file: offset = record count, so
      // only the delta replays
      Files.write(file, FixedWidthWriter.render(schema, rows.slice(3, 5)),
        java.nio.file.StandardOpenOption.APPEND)
      // and a brand-new file entering at offset 0
      Files.write(dir.toPath.resolve("late.fw"),
        FixedWidthWriter.render(schema, rows.slice(5, 7)))
      q.processAllAvailable()
      val got = spark.table("fw_stream_mem").collect().map(_.getLong(0))
      assert(got.length === 7, s"expected 7 rows, got ${got.mkString(",")}")
      assert(got.toSet === (1L to 7L).toSet, "no duplicates, no gaps")
    } finally q.stop()
  }

  test("multi-file offsets survive a stop + restart from the checkpoint") {
    // two .fw files BEFORE the first batch: the serialized offset holds
    // two entries, and Spark's OffsetSeqLog stores one LINE per source —
    // a multi-line offset would corrupt the log and break this restart
    val dir = Files.createTempDirectory("fwrestart").toFile
    val ckpt = Files.createTempDirectory("fwrestart_ckpt").toFile
    Files.write(dir.toPath.resolve("a.fw"),
      FixedWidthWriter.render(schema, rows.take(2)))
    Files.write(dir.toPath.resolve("b.fw"),
      FixedWidthWriter.render(schema, rows.slice(2, 4)))
    val out = Files.createTempDirectory("fwrestart_out").toFile
    def start() = spark.readStream.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out.getAbsolutePath).count() === 4L)
    } finally q1.stop()
    // restart from the checkpoint: appends to BOTH files plus a new
    // file must deliver exactly the delta, not replay the prefix
    Files.write(dir.toPath.resolve("a.fw"),
      FixedWidthWriter.render(schema, rows.slice(4, 5)),
      java.nio.file.StandardOpenOption.APPEND)
    Files.write(dir.toPath.resolve("b.fw"),
      FixedWidthWriter.render(schema, rows.slice(5, 6)),
      java.nio.file.StandardOpenOption.APPEND)
    Files.write(dir.toPath.resolve("c.fw"),
      FixedWidthWriter.render(schema, rows.slice(6, 7)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out.getAbsolutePath)
        .collect().map(_.getLong(0))
      assert(got.length === 7,
        s"restart replayed or dropped records: ${got.sorted.mkString(",")}")
      assert(got.toSet === (1L to 7L).toSet)
    } finally q2.stop()
  }

  test("maxRecordsPerTrigger drains a backlog as bounded batches") {
    // Admission control: a full directory at first start (or a big
    // catch-up after downtime) must not arrive as one giant batch —
    // the cap bounds every micro-batch and each batch checkpoints its
    // own progress.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("fwlimit").toFile
    val bigRows = (1 to 25).map(i =>
      Seq[Any](i.toLong, s"r$i", i / 2.0))
    Files.write(dir.toPath.resolve("data.fw"),
      FixedWidthWriter.render(schema, bigRows.take(20)))
    Files.write(dir.toPath.resolve("more.fw"),
      FixedWidthWriter.render(schema, bigRows.drop(20)))
    val ckpt = Files.createTempDirectory("fwlimit_ckpt").toFile
    var batchSizes = Vector.empty[Long]
    val q = spark.readStream.format("graft.sources.FixedWidth")
      .option("schema", spec)
      .option("maxRecordsPerTrigger", "7")
      .load(dir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes :+= df.count()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batchSizes.sum === 25L,
        s"drain lost/duplicated rows: $batchSizes")
      assert(batchSizes.forall(_ <= 7L),
        s"a batch exceeded the admission cap: $batchSizes")
      assert(batchSizes.count(_ > 0) >= 4,
        s"backlog did not spread over batches: $batchSizes")
    } finally q.stop()
    // restart with a further append: the checkpointed position resumes
    // mid-file and the cap still applies
    Files.write(dir.toPath.resolve("data.fw"),
      FixedWidthWriter.render(schema,
        (26 to 40).map(i => Seq[Any](i.toLong, s"r$i", 0.0))),
      java.nio.file.StandardOpenOption.APPEND)
    var seen = Vector.empty[Long]
    val q2 = spark.readStream.format("graft.sources.FixedWidth")
      .option("schema", spec)
      .option("maxRecordsPerTrigger", "7")
      .load(dir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= df.collect().map(_.getLong(0))
      }
      .start()
    try {
      q2.processAllAvailable()
      assert(seen.sorted === (26L to 40L),
        s"restart under the cap replayed or dropped: ${seen.sorted}")
    } finally q2.stop()
  }

  test("scan reports exact stats; a small fw side broadcasts without a hint") {
    val dir = writeFixture(rows)
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
    // stats: rows from bytes/rowLen; projected size from kept widths
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }.get
    val stats = scan.computeStats()
    assert(stats.rowCount.contains(BigInt(7)),
      s"rowCount from stats: ${stats.rowCount}")
    // 7 records x (4+6+10 widths + newline) bytes
    assert(stats.sizeInBytes === BigInt(7 * 21),
      s"sizeInBytes from stats: ${stats.sizeInBytes}")
    // CBO consequence: the tiny fw table lands on the BUILD side of a
    // broadcast join against a larger parquet frame with no hint
    val big = spark.range(0, 10000)
      .select(col("id").as("row_id"), (col("id") % 7 + 1).as("fk"))
    val joined = big.join(df.select(col("id").as("id2"), col("name")),
      col("fk") === col("id2"))
    val joinedPlan = joined.queryExecution.executedPlan.toString
    assert(joinedPlan.contains("BroadcastHashJoin"),
      s"fw side not broadcast:\n${joinedPlan.take(1500)}")
  }

  test("zone maps: writer sidecars let the scan skip whole files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwzone").toFile.getAbsolutePath
    // 4 writer tasks, each a disjoint id range -> 4 files with ranges
    spark.range(0, 4000)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .mode("overwrite").save(dir)
    val statFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fwstats"))
    assert(statFiles.length === 4, "each data file needs a sidecar")
    def readWith(cond: org.apache.spark.sql.Column) = {
      val got = spark.read.format("graft.sources.FixedWidth")
        .option("schema", "id:long:6,name:string:6,score:double:8")
        .load(dir).filter(cond).count()
      (got, FixedWidth.lastSkippedFiles)
    }
    // a one-file id range: 3 of 4 files provably excluded
    val (n1, _) = readWith(col("id") >= 3500L)
    assert(n1 === 500L)
    assert(FixedWidth.lastSkippedFiles === 3,
      s"expected 3 files pruned, got ${FixedWidth.lastSkippedFiles}")
    // an impossible range: every file skipped, still a correct 0
    val (n2, _) = readWith(col("id") > 100000L)
    assert(n2 === 0L)
    assert(FixedWidth.lastSkippedFiles === 4)
    // a filter on an unclustered column prunes nothing but stays correct
    val (n3, _) = readWith(col("score") < 50.0)
    assert(n3 === 2000L)
    assert(FixedWidth.lastSkippedFiles === 0)
  }

  test("runtime filters fold into zone-map pruning and reader filters") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwruntime").toFile.getAbsolutePath
    spark.range(0, 4000)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .mode("overwrite").save(dir)
    // the DSv2 runtime-filtering contract, driven directly: an IN list
    // delivered after planning folds to a range envelope that prunes
    // files through their sidecars, and rows filter in the reader
    val schema = FixedWidth.parseSchema("id:long:6,name:string:6,score:double:8")
    val scan = new FwScanBuilder(schema, dir, 1L << 20)
      .build().asInstanceOf[FwScan]
    assert(scan.filterAttributes().map(_.describe()).toSet
      === Set("id", "name", "score")) // no pruning in this direct build
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id",
        Array[Any](3600L, 3700L, 3950L))))
    val parts = scan.planInputPartitions()
    assert(FixedWidth.lastSkippedFiles === 3,
      s"IN envelope should prune 3 of 4 files, skipped " +
        s"${FixedWidth.lastSkippedFiles}")
    assert(parts.nonEmpty)
  }

  test("runtime filters prune partition directories on the " +
      "partitioned scan (the DPP shape)") {
    val dir = Files.createTempDirectory("fwpdpp").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    spark.range(0, 4000)
      .select(col("id"), (col("id") % 4).cast("int").as("nk"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(4)
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .mode("overwrite").save(dir)
    val schema = FixedWidth.parseSchema(psc)
    val scan = new FwScanBuilder(schema, dir, 1L << 20,
      partitionBy = Some("nk")).build().asInstanceOf[FwPartScan]
    // the scan advertises only the partition column for runtime filters
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("nk"))
    // pre-filter: all 4 value groups planned
    assert(scan.planInputPartitions().length === 4)
    // a dynamic IN list (what a selective dim join broadcasts) arrives
    // after planning and re-plans to the named partitions only
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("nk", Array[Any](1, 3))))
    val parts = scan.planInputPartitions()
    assert(parts.length === 2)
    assert(FixedWidth.lastPrunedPartitions === 2,
      s"2 of 4 dirs must prune: ${FixedWidth.lastPrunedPartitions}")
    assert(parts.map(_.asInstanceOf[FwPartValuePartition].value).toSet
      === Set(1, 3))
  }

  test("MIN/MAX push to metadata when sidecars cover every file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwminmax").toFile.getAbsolutePath
    spark.range(100, 4100)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .load(dir)
    val r = df.agg(min(col("id")), max(col("id")), count(lit(1)),
      max(col("score"))).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      === ((100L, 4099L, 4000L, 99.0)))
    assert(FixedWidth.lastScanSummary.contains("pushed-agg=min(id)"),
      s"min/max did not push: ${FixedWidth.lastScanSummary}")
    // a fixture without sidecars must NOT push min/max (unknown range)
    val plain = writeFixture(rows)
    val df2 = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(plain)
    assert(df2.agg(min(col("id"))).collect().head.getLong(0) === 1L)
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"min pushed without stats: ${FixedWidth.lastScanSummary}")
    // and count(*) alone still pushes even without sidecars
    assert(df2.agg(count(lit(1))).collect().head.getLong(0) === 7L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg=count(*)"))
  }

  test("offset json round-trips multi-file maps and legacy lines") {
    val off = FwOffset(Map("/tmp/a \"x\".fw" -> 3L, "/tmp/b.fw" -> 0L))
    val json = off.json()
    assert(!json.contains("\n"), s"offset must be single-line: $json")
    assert(FwOffset.parse(json) === off, "json round-trip")
    // pre-JSON checkpoints (count:path lines) still parse
    assert(FwOffset.parse("3:/tmp/a.fw") === FwOffset(Map("/tmp/a.fw" -> 3L)))
  }

  test("zone maps above 2^53: exact long stats never misprune or round") {
    // 2^53 is where double loses integer exactness — a double-typed
    // sidecar would collapse 2^53+1 and 2^53 to the same value, letting
    // a GreaterThan filter at the boundary wrongly skip the file and
    // MIN/MAX pushdown return a rounded long.
    import spark.implicits._
    val big = 1L << 53
    val dir = Files.createTempDirectory("fwbig").toFile.getAbsolutePath
    val sp = "id:long:17,v:long:17"
    spark.createDataset(Seq((big + 1L, big + 1L), (big + 3L, big + 3L)))
      .toDF("id", "v").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", sp).mode("overwrite").save(dir)
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sp).load(dir)
    // pushed MIN/MAX answers from the sidecar must be bit-exact
    val r = df.agg(min(col("v")), max(col("v"))).collect().head
    assert(FixedWidth.lastScanSummary.contains("pushed-agg=min(v)"),
      s"min/max did not push: ${FixedWidth.lastScanSummary}")
    assert((r.getLong(0), r.getLong(1)) === ((big + 1L, big + 3L)))
    // (big+2).toDouble rounds DOWN to big+2.0? No: 2^53+2 is
    // representable; 2^53+3 rounds to 2^53+4. The dangerous prune:
    // filter v > 2^53+2 — a double envelope storing hi=(2^53+3) as
    // 2^53+4 keeps the file (safe side), but min=(2^53+1) stored as
    // 2^53+2.0 would wrongly prune filter v < 2^53+2. Exact longs
    // cannot miss either way; assert both directions stay correct.
    assert(df.filter(col("v") < big + 2L).count() === 1L)
    assert(FixedWidth.lastSkippedFiles === 0, "boundary prune lost a row")
    assert(df.filter(col("v") > big + 2L).count() === 1L)
    // and a provably-out range still prunes the whole file
    assert(df.filter(col("v") < big).count() === 0L)
    assert(FixedWidth.lastSkippedFiles === 1)
  }

  test("NaN doubles: pruning and MIN/MAX pushdown stand down") {
    // Spark orders NaN above every double (MAX of a column containing
    // NaN is NaN; d = NaN matches NaN rows). Sidecars only see finite
    // values, so a NaN-bearing column must decline both the pushdown
    // and the prune.
    import spark.implicits._
    val dir = Files.createTempDirectory("fwnan").toFile.getAbsolutePath
    val sp = "id:long:4,d:double:10"
    spark.createDataset(Seq((1L, 0.5), (2L, Double.NaN), (3L, 7.25)))
      .toDF("id", "d").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", sp).mode("overwrite").save(dir)
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sp).load(dir)
    val r = df.agg(max(col("d")), min(col("d"))).collect().head
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"NaN column pushed MIN/MAX: ${FixedWidth.lastScanSummary}")
    assert(r.getDouble(0).isNaN, "MAX over a NaN-bearing column is NaN")
    assert(r.getDouble(1) === 0.5)
    // equality with NaN finds the NaN row: the file must not prune even
    // though [0.5, 7.25] excludes the probe value
    assert(df.filter(col("d") === lit(Double.NaN)).count() === 1L)
    assert(FixedWidth.lastSkippedFiles === 0, "NaN row pruned away")
    // an all-NaN column: MAX is NaN via a real scan, never NULL
    val dir2 = Files.createTempDirectory("fwnan2").toFile.getAbsolutePath
    spark.createDataset(Seq((1L, Double.NaN), (2L, Double.NaN)))
      .toDF("id", "d").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", sp).mode("overwrite").save(dir2)
    val df2 = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sp).load(dir2)
    val r2 = df2.agg(max(col("d"))).collect().head
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"))
    assert(r2.getDouble(0).isNaN, "all-NaN MAX must be NaN, not NULL")
    // id, NaN-free and exact, still prunes fine on the same data
    assert(df2.filter(col("id") > 5L).count() === 0L)
    assert(FixedWidth.lastSkippedFiles === 1)
  }

  test("a sidecar goes stale when its data file grows in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwstale").toFile.getAbsolutePath
    val sp = "id:long:4,name:string:6,score:double:10"
    spark.createDataset(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      .toDF("id", "name", "score").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", sp).mode("overwrite").save(dir)
    val dataFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fw")).head
    assert(FwStats.read(dataFile).isDefined, "fresh sidecar must load")
    // a producer appends records in place (the streaming-growth case):
    // the recorded _len no longer matches -> the sidecar is void, so
    // neither pruning nor MIN/MAX pushdown can use its stale envelope
    val extra = FixedWidthWriter.render(FixedWidth.parseSchema(sp),
      Seq(Seq[Any](99L, "z", 9.0)))
    Files.write(dataFile.toPath, extra,
      java.nio.file.StandardOpenOption.APPEND)
    assert(FwStats.read(dataFile).isEmpty, "stale sidecar must not load")
    val df = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sp).load(dir)
    // the appended id=99 is outside the stale [1,2] envelope: with the
    // sidecar voided the row is found, not pruned away
    assert(df.filter(col("id") === 99L).count() === 1L)
    assert(FixedWidth.lastSkippedFiles === 0)
    val r = df.agg(max(col("id"))).collect().head
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      "stale sidecar fed a MIN/MAX pushdown")
    assert(r.getLong(0) === 99L)
  }

  test("mid-append tail rounds down instead of failing the query") {
    val dir = Files.createTempDirectory("fwtear").toFile
    val file = dir.toPath.resolve("data.fw")
    val whole = FixedWidthWriter.render(schema, rows.take(3))
    // two complete records plus half of the third
    val rowLen = whole.length / 3
    Files.write(file, whole.take(2 * rowLen + rowLen / 2).toArray)
    val stream = new FwMicroBatchStream(schema,
      schema.fieldNames, Array.empty, dir.getAbsolutePath, 1L << 20)
    val off = stream.latestOffset().asInstanceOf[FwOffset]
    assert(off.counts(file.toString) === 2L,
      "offset must round down to the last complete record")
  }

  test("time travel: each batch commit is a version, versionAsOf pins it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwtt").toFile.getAbsolutePath
    def write(data: Seq[(Long, String, Double)], mode: String): Unit =
      data.toDF("id", "name", "score")
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    def readAt(v: Long) = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("versionAsOf", v.toString).load(dir)

    write(Seq((1L, "a", 1.0), (2L, "b", 2.0)), "overwrite") // v1
    write(Seq((3L, "c", 3.0)), "append") // v2
    write(Seq((4L, "d", 4.0)), "append") // v3

    assert(readAt(1).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(readAt(2).collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
    assert(readAt(3).count() === 4)
    // an unpinned read follows the live table
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir).count() === 4)
    // COUNT(*) at a version is still metadata-only AND version-scoped
    val c = readAt(1).agg(count(lit(1))).collect().head.getLong(0)
    assert(c === 2L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"versioned COUNT(*) left the metadata path: ${FixedWidth.lastScanSummary}")
    // unknown version fails loudly with the available range
    val e = intercept[Exception] { readAt(99).collect() }
    assert(e.getMessage.contains("no version 99")
      && e.getMessage.contains("1..3"), e.getMessage)
  }

  test("time travel: truncate starts a new snapshot; vacuumed versions fail loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwttv").toFile.getAbsolutePath
    def write(data: Seq[(Long, String, Double)], mode: String): Unit =
      data.toDF("id", "name", "score")
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    write(Seq((1L, "a", 1.0)), "overwrite") // v1
    write(Seq((2L, "b", 2.0)), "overwrite") // v2: truncates v1's files
    val live = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
    assert(live.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("versionAsOf", "2").load(dir)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    val e = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", "1").load(dir)
        .collect()
    }
    assert(e.getMessage.contains("no longer exists"), e.getMessage)
  }

  test("time travel: SQL VERSION AS OF through the catalog") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.fwcat_tt", "graft.sources.FwCatalog")
    val dir = Files.createTempDirectory("fwttsql").toFile.getAbsolutePath
    spark.sql("DROP TABLE IF EXISTS fwcat_tt.ns.t")
    spark.sql(
      s"""CREATE TABLE fwcat_tt.ns.t (id BIGINT, name STRING, score DOUBLE)
         |OPTIONS (path '$dir', widths '4,6,10')""".stripMargin)
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("fwtt_src1")
    spark.sql("INSERT INTO fwcat_tt.ns.t SELECT * FROM fwtt_src1") // v1
    Seq((3L, "c", 3.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("fwtt_src2")
    spark.sql("INSERT INTO fwcat_tt.ns.t SELECT * FROM fwtt_src2") // v2
    assert(spark.sql("SELECT count(*) FROM fwcat_tt.ns.t VERSION AS OF 1")
      .collect().head.getLong(0) === 2L)
    assert(spark.sql(
      "SELECT max(id) FROM fwcat_tt.ns.t VERSION AS OF 2")
      .collect().head.getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM fwcat_tt.ns.t")
      .collect().head.getLong(0) === 3L)
  }

  test("timestamp travel: newest snapshot at-or-before the instant; " +
      "ISO accepted; pre-history and double pins fail loudly; vacuum " +
      "keeps commit times") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwtts").toFile.getAbsolutePath
    def write(rows: Seq[(Long, String, Double)], mode: String): Unit =
      rows.toDF("id", "name", "score").coalesce(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    write(Seq((1L, "a", 1.0)), "overwrite") // v1
    write(Seq((2L, "b", 2.0)), "append") // v2
    write(Seq((3L, "c", 3.0)), "append") // v3
    val ts = FwMaintenance.commitTimestamps(dir)
    assert(ts.keySet === Set(1L, 2L, 3L))
    assert(ts(1L) > 0 && ts(1L) < ts(2L) && ts(2L) < ts(3L),
      s"commit times strictly increase: $ts")
    def countAt(pin: String): Long =
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("timestampAsOf", pin).load(dir)
        .count()
    assert(countAt(ts(1L).toString) === 1L)
    assert(countAt((ts(2L) - 1).toString) === 1L,
      "between commits resolves to the earlier snapshot")
    assert(countAt(ts(2L).toString) === 2L)
    assert(countAt((ts(3L) + 3600000L).toString) === 3L,
      "a future instant reads the newest snapshot")
    assert(countAt(
      java.time.Instant.ofEpochMilli(ts(2L)).toString) === 2L,
      "ISO-8601 instants parse")
    val ePre = intercept[Exception] { countAt((ts(1L) - 10).toString) }
    assert(ePre.getMessage.contains("no version at or before"),
      ePre.getMessage)
    val eBoth = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("timestampAsOf", ts(2L).toString)
        .option("versionAsOf", "2").load(dir).count()
    }
    assert(eBoth.getMessage.contains("mutually exclusive"),
      eBoth.getMessage)
    val eBad = intercept[Exception] { countAt("yesterday-ish") }
    assert(eBad.getMessage.contains("ISO-8601"), eBad.getMessage)
    // vacuum trims v1 but keeps v2/v3's commit times usable
    FwMaintenance.vacuum(spark, dir, retainLast = 2)
    assert(countAt(ts(3L).toString) === 3L)
    assert(countAt(ts(2L).toString) === 2L)
    val eGone = intercept[Exception] { countAt(ts(1L).toString) }
    assert(eGone.getMessage.contains("no version at or before"),
      eGone.getMessage)
    // SQL TIMESTAMP AS OF through the catalog (micros -> millis floor)
    spark.conf.set("spark.sql.catalog.fwcat_ts", "graft.sources.FwCatalog")
    spark.sql("DROP TABLE IF EXISTS fwcat_ts.ns.t")
    spark.sql(
      s"""CREATE TABLE fwcat_ts.ns.t (id BIGINT, name STRING, score DOUBLE)
         |OPTIONS (path '$dir', widths '4,6,10')""".stripMargin)
    val iso2 = java.time.Instant.ofEpochMilli(ts(2L)).toString
    assert(spark.sql(
      s"SELECT count(*) FROM fwcat_ts.ns.t TIMESTAMP AS OF '$iso2'")
      .collect().head.getLong(0) === 2L)
  }

  test("snapshot prefix: an in-place-grown file reads at its committed length") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwttgrow").toFile.getAbsolutePath
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "score").repartition(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir) // v1
    // an external producer appends one record in place, bypassing the
    // committer entirely
    val fwFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fw")).head
    Files.write(fwFile.toPath,
      FixedWidthWriter.render(schema, Seq(Seq[Any](4L, "late", 9.0))),
      java.nio.file.StandardOpenOption.APPEND)
    def live = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
    def pinned = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("versionAsOf", "1").load(dir)
    // the live read sees the grown file; the pinned read sees exactly
    // the committed prefix
    assert(live.count() === 4)
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
    // the sidecar is stale for the live length (MIN/MAX declines) but
    // still exact for the snapshot prefix (metadata-only answer)
    val liveMax = live.agg(max(col("id"))).collect().head.getLong(0)
    assert(liveMax === 4L)
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"stale sidecar must decline the live pushdown: ${FixedWidth.lastScanSummary}")
    val pinnedMax = pinned.agg(max(col("id"))).collect().head.getLong(0)
    assert(pinnedMax === 3L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"pinned MIN/MAX should stay metadata-only: ${FixedWidth.lastScanSummary}")
  }

  test("incremental read: changesFromVersion yields only later files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwcdc").toFile.getAbsolutePath
    def write(data: Seq[(Long, String, Double)], mode: String): Unit =
      data.toDF("id", "name", "score").repartition(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    write(Seq((1L, "a", 1.0), (2L, "b", 2.0)), "overwrite") // v1
    write(Seq((3L, "c", 3.0)), "append") // v2
    write(Seq((4L, "d", 4.0)), "append") // v3
    def changes(from: Long, asOf: Option[Long] = None) = {
      val r = spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("changesFromVersion", from.toString)
      asOf.fold(r)(v => r.option("versionAsOf", v.toString)).load(dir)
    }
    assert(changes(1).collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3L, 4L))
    assert(changes(2).collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(changes(3).count() === 0L)
    // bounded on both ends: additions in v2 only
    assert(changes(1, Some(2)).collect().map(_.getLong(0)).toSeq ===
      Seq(3L))
    // the delta COUNT stays metadata-only
    val c = changes(1).agg(count(lit(1))).collect().head.getLong(0)
    assert(c === 2L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"delta COUNT(*) left the metadata path: ${FixedWidth.lastScanSummary}")
    // unknown base version fails loudly
    val e = intercept[Exception] { changes(9).collect() }
    assert(e.getMessage.contains("no version 9"), e.getMessage)
  }

  test("history surface: the manifest reads back as a metadata table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwhist").toFile.getAbsolutePath
    def hist = spark.read.format("graft.sources.FixedWidth")
      .option("history", "true").option("schema", spec).load(dir)
    // no commits yet: empty history, not an error
    assert(hist.count() === 0)
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
      .repartition(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir)
    Seq((3L, "c", 3.0)).toDF("id", "name", "score").repartition(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("append").save(dir)
    val rows = hist.orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.toSeq === Seq((1L, 1L, 2L), (2L, 2L, 3L)))
    // record length = 4 + 6 + 10 widths + newline
    val bytes = hist.orderBy("version").collect().map(_.getLong(2))
    assert(bytes.toSeq === Seq(2L * 21, 3L * 21))
  }

  test("time travel: a pinned stream is refused; no manifest is a clear error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwttstream").toFile.getAbsolutePath
    Seq((1L, "a", 1.0)).toDF("id", "name", "score")
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir)
    val e = intercept[Exception] {
      spark.readStream.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", "1").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("fwttck").toString)
        .start().processAllAvailable()
    }
    assert(e.getMessage.contains("batch-only"), e.getMessage)
    // hand-built fixture dir: no batch commit ever ran there
    val fixture = writeFixture(rows)
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", "1").load(fixture)
        .collect()
    }
    assert(e2.getMessage.contains("no batch write has committed"),
      e2.getMessage)
  }

  test("streaming writes refuse bucketBy and sortedBy loudly (layout " +
      "claims must fail, not drop: flat epochs would vanish from " +
      "bucketed scans; uncertified sort claims would poison seeks)") {
    import spark.implicits._
    def streamInto(opts: Map[String, String]): Exception = {
      val src = Files.createTempDirectory("fwswsrc").toFile.getAbsolutePath
      Seq((1L, "a", 1.0)).toDF("id", "name", "score")
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode("overwrite").save(src)
      val sink = Files.createTempDirectory("fwswdst").toFile.getAbsolutePath
      intercept[Exception] {
        var w = spark.readStream.format("graft.sources.FixedWidth")
          .option("schema", spec).load(src)
          .writeStream.format("graft.sources.FixedWidth")
          .option("schema", spec).option("path", sink)
          .option("checkpointLocation",
            Files.createTempDirectory("fwswck").toString)
        opts.foreach { case (k, v) => w = w.option(k, v) }
        w.start().processAllAvailable()
      }
    }
    val eb = streamInto(Map("bucketBy" -> "id", "buckets" -> "4"))
    assert(eb.getMessage.contains("bucketBy is batch-only"),
      eb.getMessage)
    val es = streamInto(Map("sortedBy" -> "id"))
    assert(es.getMessage.contains("sortedBy is batch-only"),
      es.getMessage)
  }

  test("filter constants never truncate: fractional and out-of-range " +
      "Numbers compare exactly or decline (partition pruning, seek " +
      "narrowing, bucket routing)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, LessThan}
    // the shared coercion: whole doubles are exact longs, anything
    // else declines
    assert(FwNum.exactLong(java.lang.Double.valueOf(5.0)) === Some(5L))
    assert(FwNum.exactLong(java.lang.Double.valueOf(5.7)) === None)
    assert(FwNum.exactLong(java.lang.Double.valueOf(Double.NaN)) === None)
    assert(FwNum.exactLong(
      java.lang.Double.valueOf(Double.PositiveInfinity)) === None)
    // 2^63 as a double is just past Long.MaxValue: must decline
    assert(FwNum.exactLong(
      java.lang.Double.valueOf(9.223372036854776e18)) === None)
    assert(FwNum.exactLong(
      java.lang.Double.valueOf(-9.223372036854776e18)) ===
      Some(Long.MinValue))
    // ordering against fractional constants is exact, never truncated
    assert(FwNum.cmpLong(5L, java.lang.Double.valueOf(5.7)) === Some(-1))
    assert(FwNum.cmpLong(6L, java.lang.Double.valueOf(5.7)) === Some(1))
    assert(FwNum.cmpLong(5L, java.lang.Double.valueOf(5.0)) === Some(0))
    assert(FwNum.cmpLong(Long.MaxValue,
      java.lang.Double.valueOf(Double.NaN)) === None)

    // partition pruning: total under runtime-filter shapes Catalyst
    // never pushes — a null In element matches nothing (SQL IN), a
    // fractional range bound keeps the partition (conservative), a
    // whole double still matches exactly
    val full = FixedWidth.parseSchema("id:long:4,nk:long:4")
    val scan = new FwPartScan(full, full, Array.empty, "/nowhere",
      "nk", "")
    assert(scan.evalP(5L,
      In("nk", Array(null, java.lang.Long.valueOf(5L)))))
    assert(!scan.evalP(5L, In("nk", Array(null))))
    assert(scan.evalP(5L, In("nk", Array(java.lang.Double.valueOf(5.0)))))
    assert(!scan.evalP(5L, In("nk", Array(java.lang.Double.valueOf(5.7)))))
    assert(scan.evalP(5L, GreaterThan("nk", java.lang.Double.valueOf(4.5))),
      "underivable-exactly bound keeps the partition")
    assert(!scan.evalP(5L, EqualTo("nk", java.lang.Long.valueOf(7L))))
    assert(scan.evalP(5L, In("nk", Array[Any]("oops", 7L))),
      "an alien-typed In element keeps the partition (conservative)")
    assert(!scan.evalP(5L,
      In("nk", Array[Any](java.lang.Double.valueOf(Double.NaN)))),
      "NaN equals nothing: exact no-match, prune")

    // seek narrowing: a fractional bound must NOT narrow (the reader
    // never re-checks pushed filters on seek-excluded records); the
    // early no-bounds return means no file IO happens
    assert(FwSeek.narrow(schema, "/nowhere", 10L, 21L, "id",
      Array(LessThan("id", java.lang.Double.valueOf(5.7)))) === (0L, 10L))
  }

  test("compaction: small files bin-pack into one; records, stats and " +
      "metadata pushdown survive; vacuumed snapshots fail loudly") {
    val dir = Files.createTempDirectory("fwopt").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    spark.range(0, 4000)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.FixedWidth")
      .option("schema", sc4).mode("overwrite").save(dir) // v1: 4 files
    val report = FwMaintenance.optimize(spark, dir, targetBytes = 10L << 20)
    assert(report.committedVersion === Some(2L), report.toString)
    assert(report.filesBefore === 4 && report.filesAfter === 1
      && report.groups === 1, report.toString)
    // the LIVE set is the one compacted file; the 4 inputs are
    // retained on disk for version pins until vacuum
    val dataFiles = FwFiles.list(dir)
    assert(dataFiles.length === 1, dataFiles.map(_.getName).mkString(","))
    assert(dataFiles.head.getName.startsWith("compact-"))
    assert(FwFiles.listPhysical(dir).length === 5,
      "compacted inputs are retained for time travel")
    // every record survives, byte-for-byte (fixed-width concatenation)
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).load(dir)
    assert(re.count() === 4000L)
    assert(re.agg(sum("id")).collect().head.getLong(0) === 4000L * 3999 / 2)
    // the merged sidecar is the exact envelope union
    assert(FwStats.read(dataFiles.head) ===
      Some(Map("id" -> FwIntStats(0L, 3999L),
        "score" -> FwDblStats(Some(0.0), Some(99.0), hasNaN = false),
        "name" -> FwStrStats("n0", "n96", exact = true))))
    // MIN/MAX still answers from metadata alone post-compaction
    val mm = re.agg(min("id"), max("id")).collect().head
    assert(mm.getLong(0) === 0L && mm.getLong(1) === 3999L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"post-compaction MIN/MAX left metadata path: ${FixedWidth.lastScanSummary}")
    // history: v2 keeps v1's record count at 1 file
    val hist = spark.read.format("graft.sources.FixedWidth")
      .option("history", "true").option("schema", sc4).load(dir)
      .orderBy("version").collect()
    assert(hist.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq ===
      Seq((1L, 4L, 4000L), (2L, 1L, 4000L)))
    // the pre-compaction pin still reads from the retained inputs
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).option("versionAsOf", "1").load(dir)
      .count() === 4000L)
    // vacuum sweeps the retained inputs; the dropped pin fails loudly
    FwMaintenance.vacuum(spark, dir, retainLast = 1)
    assert(FwFiles.listPhysical(dir).length === 1)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", sc4).option("versionAsOf", "1").load(dir).collect()
    }
    assert(e.getMessage.contains("no version 1"), e.getMessage)
  }

  test("compaction: a statless input poisons only its own group's sidecar") {
    val dir = Files.createTempDirectory("fwoptg").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    val sch4 = FixedWidth.parseSchema(sc4)
    // 4 equal 21000-byte files in a deterministic name order; target
    // 43000 packs them 2+2: group 1 = (a,b), group 2 = (c,d)
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (nm, k) =>
      val recs = Seq.tabulate(1000) { i =>
        val id = 1000L * k + i
        Seq[Any](id, "n" + (id % 97), (id % 100).toDouble)
      }
      val f = new java.io.File(dir, s"$nm.fw")
      Files.write(f.toPath, FixedWidthWriter.render(sch4, recs))
      if (nm != "d") // d is a statless hand-built fixture
        FwStats.write(FwStats.sidecarFor(f.getPath),
          Map("id" -> FwIntStats(1000L * k, 1000L * k + 999L),
            "score" -> FwDblStats(Some(0.0), Some(99.0), hasNaN = false)),
          f.length())
    }
    assert(FwFiles.list(dir).forall(_.length() === 21000L))
    val report = FwMaintenance.optimize(spark, dir, targetBytes = 43000L)
    assert(report.groups === 2 && report.filesAfter === 2, report.toString)
    val outs = FwFiles.list(dir).sortBy(_.getName)
    assert(outs.length === 2)
    val sidecars = outs.map(f => FwStats.read(f))
    // group 1 (a+b: ids 0..1999) merged; group 2 (c+d) declined
    assert(sidecars.count(_.isDefined) === 1)
    val merged = sidecars.flatten.head
    assert(merged("id") === FwIntStats(0L, 1999L))
    // reads stay correct and the stat'd file still prunes
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).load(dir)
    assert(re.count() === 4000L)
    assert(re.filter(col("id") >= 2000L).count() === 2000L)
    assert(FixedWidth.lastSkippedFiles === 1,
      "the merged-sidecar file must prune on id >= 2000")
  }

  test("compaction: no-op and singleton-leftover cases burn no version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwoptn").toFile.getAbsolutePath
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
      .repartition(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir) // v1: one small file
    // a lone small file is a singleton group: nothing to gain, no-op
    val r1 = FwMaintenance.optimize(spark, dir, targetBytes = 1L << 20)
    assert(r1.committedVersion === None && r1.groups === 0
      && r1.filesBefore === 1 && r1.filesAfter === 1, r1.toString)
    // files at/above target never compact
    Seq((3L, "c", 3.0)).toDF("id", "name", "score").repartition(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("append").save(dir) // v2
    val r2 = FwMaintenance.optimize(spark, dir, targetBytes = 2L)
    assert(r2.committedVersion === None && r2.filesAfter === 2, r2.toString)
    assert(FwVersions.read(dir).map(_.v).max === 2L,
      "no-op compaction must not burn a manifest version")
    // and with two compactable files it DOES commit v3
    val r3 = FwMaintenance.optimize(spark, dir, targetBytes = 1L << 20)
    assert(r3.committedVersion === Some(3L) && r3.filesAfter === 1,
      r3.toString)
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("merge: updates rewrite only envelope-touched files, inserts " +
      "append, sidecars recompute, snapshot commits") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwmrg").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    val sch4 = FixedWidth.parseSchema(sc4)
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (nm, k) =>
      val recs = Seq.tabulate(100) { i =>
        val id = 1000L * k + i
        Seq[Any](id, "n" + (id % 97), (id % 100).toDouble)
      }
      val f = new java.io.File(dir, s"$nm.fw")
      Files.write(f.toPath, FixedWidthWriter.render(sch4, recs))
      FwStats.write(FwStats.sidecarFor(f.getPath),
        Map("id" -> FwIntStats(1000L * k, 1000L * k + 99L),
          "score" -> FwDblStats(Some(0.0), Some(99.0), hasNaN = false)),
        f.length())
    }
    val updates = Seq((1050L, "upd", 777.5), (1051L, "upd", -3.25),
      (9999L, "new", 1.0)).toDF("id", "name", "score")
    val report = FwMaintenance.merge(spark, dir, sch4, updates, "id")
    assert(report === FwMaintenance.MergeReport(version = 1L,
      filesRewritten = 1, filesUntouched = 3, rowsUpdated = 2L,
      rowsInserted = 1L), report.toString)
    val names = FwFiles.list(dir).map(_.getName).sorted
    assert(names.count(_.startsWith("merge-ins-")) === 1, names.toSeq)
    assert(names.count(_.startsWith("merge-")) === 2, names.toSeq)
    // only b.fw (ids 1000..1099) was touched
    assert(names.filterNot(_.startsWith("merge-")).toSeq ===
      Seq("a.fw", "c.fw", "d.fw"))
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).load(dir)
    assert(re.count() === 401L)
    val got = re.filter(col("id").isin(1050L, 1051L, 9999L, 1052L))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1050L, "upd", 777.5), (1051L, "upd", -3.25),
      (1052L, "n82", 52.0), (9999L, "new", 1.0)))
    // the rewritten file's sidecar reflects the new values exactly
    val rewritten = FwFiles.list(dir)
      .find(f => f.getName.startsWith("merge-")
        && !f.getName.startsWith("merge-ins-")).get
    val st = FwStats.read(rewritten).get
    assert(st("id") === FwIntStats(1000L, 1099L))
    assert(st("score") ===
      FwDblStats(Some(-3.25), Some(777.5), hasNaN = false))
    val insFile = FwFiles.list(dir)
      .find(_.getName.startsWith("merge-ins-")).get
    assert(FwStats.read(insFile).get("id") === FwIntStats(9999L, 9999L))
    // merge committed a snapshot; a second merge bumps it
    assert(FwVersions.read(dir).map(_.v).max === 1L)
    val r2 = FwMaintenance.merge(spark, dir, sch4,
      Seq((0L, "z", 0.0)).toDF("id", "name", "score"), "id")
    assert(r2.version === 2L && r2.filesRewritten === 1
      && r2.rowsInserted === 0L)
  }

  test("merge: envelope false positive keeps the original file; bad " +
      "update sets are rejected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwmrgfp").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    val sch4 = FixedWidth.parseSchema(sc4)
    val recs = Seq.tabulate(5)(i => Seq[Any](2L * i, "e" + i, i.toDouble))
    val f = new java.io.File(dir, "even.fw")
    Files.write(f.toPath, FixedWidthWriter.render(sch4, recs))
    FwStats.write(FwStats.sidecarFor(f.getPath),
      Map("id" -> FwIntStats(0L, 8L)), f.length())
    // key 7 is inside the envelope but absent: touched, then discarded
    val report = FwMaintenance.merge(spark, dir, sch4,
      Seq((7L, "odd", 7.0)).toDF("id", "name", "score"), "id")
    assert(report.filesRewritten === 0 && report.rowsUpdated === 0L
      && report.rowsInserted === 1L, report.toString)
    assert(new java.io.File(dir, "even.fw").isFile,
      "a no-match rewrite must keep the original file")
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).load(dir)
    assert(re.count() === 6L)
    // rejections: duplicate keys, null keys, double-typed keys
    intercept[IllegalArgumentException] {
      FwMaintenance.merge(spark, dir, sch4,
        Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("id", "name", "score"),
        "id")
    }
    intercept[IllegalArgumentException] {
      FwMaintenance.merge(spark, dir, sch4,
        Seq((null.asInstanceOf[java.lang.Long], "x", 1.0))
          .toDF("id", "name", "score"), "id")
    }
    intercept[IllegalArgumentException] {
      FwMaintenance.merge(spark, dir, sch4,
        Seq((1L, "x", 1.0)).toDF("id", "name", "score"), "score")
    }
  }

  test("merge: string keys prune by string envelopes and apply correctly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwmrgs").toFile.getAbsolutePath
    val sch4 = FixedWidth.parseSchema(spec) // id,name,score
    Seq((1L, "alpha", 1.0), (2L, "beta", 2.0), (3L, "gamma", 3.0))
      .toDF("id", "name", "score").coalesce(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("overwrite").save(dir)
    Seq((10L, "watt", 10.0), (11L, "zulu", 11.0))
      .toDF("id", "name", "score").coalesce(1)
      .write.format("graft.sources.FixedWidth").option("schema", spec)
      .mode("append").save(dir)
    val wattFile = FwFiles.list(dir).find { f =>
      FwStats.read(f).exists(_.get("name")
        .contains(FwStrStats("watt", "zulu", exact = true)))
    }.get.getName
    // 'beta' and 'delta' both land inside [alpha..gamma] only: the
    // watt..zulu file must never be opened
    val report = FwMaintenance.merge(spark, dir, sch4,
      Seq((20L, "beta", -2.0), (40L, "delta", 4.0))
        .toDF("id", "name", "score"), "name")
    assert(report.rowsUpdated === 1L && report.rowsInserted === 1L)
    assert(report.filesRewritten === 1, report.toString)
    assert(FwFiles.list(dir).map(_.getName).contains(wattFile),
      "the string envelope must keep the disjoint file untouched")
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(re === Seq((1L, "alpha", 1.0), (3L, "gamma", 3.0),
      (10L, "watt", 10.0), (11L, "zulu", 11.0), (20L, "beta", -2.0),
      (40L, "delta", 4.0)))
  }

  test("string zone maps: scans skip files on string predicates and " +
      "MIN/MAX answers from metadata") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwstrzm").toFile.getAbsolutePath
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (pfx, k) =>
      (0 until 10).map(i => (10L * k + i, s"$pfx$i", i.toDouble))
        .toDF("id", "name", "score").coalesce(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(if (k == 0) "overwrite" else "append").save(dir)
    }
    def readWith(cond: org.apache.spark.sql.Column): Long =
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).load(dir).filter(cond).count()
    assert(readWith(col("name") >= "c") === 20L)
    assert(FixedWidth.lastSkippedFiles === 2,
      s"a* and b* files must prune: ${FixedWidth.lastSkippedFiles}")
    assert(readWith(col("name") === "b5") === 1L)
    assert(FixedWidth.lastSkippedFiles === 3)
    assert(readWith(col("name") < "a0") === 0L)
    assert(FixedWidth.lastSkippedFiles === 4)
    // exact string extremes straight from the sidecars
    val mm = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
      .agg(min("name"), max("name"), max("id")).collect().head
    assert(mm.getString(0) === "a0" && mm.getString(1) === "d9"
      && mm.getLong(2) === 39L)
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"string MIN/MAX left the metadata path: ${FixedWidth.lastScanSummary}")
  }

  test("string stats: long values truncate-and-increment, keeping " +
      "prune validity but standing down from pushdown") {
    import spark.implicits._
    val st = FwStats.strStatsOf("a" * 30, "b" * 30).get
    assert(st.lo === "a" * 24 && !st.exact)
    assert(st.hi === "b" * 23 + "c")
    assert(("b" * 30).compareTo(st.hi) < 0, "bumped prefix upper-bounds")
    assert(("a" * 30).compareTo(st.lo) >= 0, "prefix lower-bounds")

    val longSpec = "id:long:4,tag:string:40"
    val dir = Files.createTempDirectory("fwstrtr").toFile.getAbsolutePath
    (0 until 5).map(i => (i.toLong, "t" * 29 + i.toString))
      .toDF("id", "tag").coalesce(1)
      .write.format("graft.sources.FixedWidth").option("schema", longSpec)
      .mode("overwrite").save(dir)
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", longSpec).load(dir)
    // truncated stats: pruning still sound in both directions
    assert(re.filter(col("tag") > "u").count() === 0L)
    assert(FixedWidth.lastSkippedFiles === 1,
      "values above the bumped upper bound must prune")
    assert(re.filter(col("tag") === "t" * 24).count() === 0L)
    assert(FixedWidth.lastSkippedFiles === 0,
      "a value inside the truncated envelope cannot prune")
    // ...but inexact bounds must not answer MIN/MAX from metadata
    val got = re.agg(min("tag")).collect().head.getString(0)
    assert(got === "t" * 29 + "0")
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"truncated stats must decline pushdown: ${FixedWidth.lastScanSummary}")
  }

  test("delete: key-set erasure rewrites touched files, drops emptied " +
      "files, skips absent keys, and recomputes sidecars") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwdel").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    val sch4 = FixedWidth.parseSchema(sc4)
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (nm, k) =>
      val recs = Seq.tabulate(100) { i =>
        val id = 1000L * k + i
        Seq[Any](id, "n" + (id % 97), (id % 100).toDouble)
      }
      val f = new java.io.File(dir, s"$nm.fw")
      Files.write(f.toPath, FixedWidthWriter.render(sch4, recs))
      FwStats.write(FwStats.sidecarFor(f.getPath),
        Map("id" -> FwIntStats(1000L * k, 1000L * k + 99L)), f.length())
    }
    // all of b, two endpoints-ish of c, one key no file holds
    val keys = ((1000L until 1100L) ++ Seq(2000L, 2050L, 77777L))
      .toDF("id")
    val report = FwMaintenance.deleteByKeys(spark, dir, sch4, keys, "id")
    assert(report === FwMaintenance.DeleteReport(version = 1L,
      filesRewritten = 1, filesRemoved = 1, rowsDeleted = 102L),
      report.toString)
    val names = FwFiles.list(dir).map(_.getName).sorted
    assert(names.count(_.startsWith("merge-")) === 1, names.toSeq)
    assert(names.filterNot(_.startsWith("merge-")).toSeq ===
      Seq("a.fw", "d.fw"), "b emptied away, a and d untouched")
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", sc4).load(dir)
    assert(re.count() === 298L)
    assert(re.filter(col("id").between(1000L, 1099L)).count() === 0L)
    assert(re.filter(col("id").isin(2000L, 2050L)).count() === 0L)
    assert(re.filter(col("id") === 2001L).count() === 1L)
    // the rewritten file's envelope tightened past the deleted endpoint
    val rewritten = FwFiles.list(dir)
      .find(_.getName.startsWith("merge-")).get
    assert(FwStats.read(rewritten).get("id") === FwIntStats(2001L, 2099L))
    // a second delete of now-absent keys is a clean no-op commit
    val r2 = FwMaintenance.deleteByKeys(spark, dir, sch4,
      Seq(2000L).toDF("id"), "id")
    assert(r2.rowsDeleted === 0L && r2.filesRewritten === 0
      && r2.version === 2L)
    intercept[IllegalArgumentException] {
      FwMaintenance.deleteByKeys(spark, dir, sch4,
        Seq(Option.empty[Long]).toDF("id"), "id")
    }
  }

  test("partitioned layout: hive dirs, value injection, exact " +
      "partition pruning, zone maps within partitions") {
    val dir = Files.createTempDirectory("fwpart").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    spark.range(0, 4000)
      .select(col("id"), (col("id") % 4).cast("int").as("nk"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(4)
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .mode("overwrite").save(dir)
    // hive layout: nk=0..3 dirs; records do NOT store the nk column
    val subs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(subs.toSeq === Seq("nk=0", "nk=1", "nk=2", "nk=3"))
    val aFile = FwFiles.listPartitioned(dir, "nk").head._2
    val firstLine = new String(java.nio.file.Files.readAllBytes(
      aFile.toPath), "UTF-8").takeWhile(_ != '\n')
    assert(firstLine.length === 14, s"nk must not be stored: '$firstLine'")

    def read() = spark.read.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk").load(dir)
    assert(read().count() === 4000L)
    assert(read().agg(sum("id"), sum("nk")).collect().head match {
      case r => r.getLong(0) === 4000L * 3999 / 2 && r.getLong(1) === 6000L
    })
    // exact pruning on the partition column
    assert(read().filter(col("nk") === 2).count() === 1000L)
    assert(FixedWidth.lastPrunedPartitions === 3)
    assert(read().filter(col("nk") >= 1 && col("nk") < 3)
      .agg(sum("nk")).collect().head.getLong(0) === 3000L)
    assert(FixedWidth.lastPrunedPartitions === 2)
    // data-column zone maps still prune files inside partitions, and
    // residual evaluation stays correct
    assert(read().filter(col("nk") === 1 && col("score") > 200.0)
      .count() === 0L)
    assert(FixedWidth.lastPrunedPartitions === 3)
    // value injection round-trips rows exactly
    val row = read().filter(col("id") === 7L).collect().head
    assert(row.getLong(0) === 7L && row.getInt(1) === 3
      && row.getDouble(2) === 7.0)
  }

  test("storage-partitioned join and aggregation run with zero shuffle") {
    val dir1 = Files.createTempDirectory("fwspj1").toFile.getAbsolutePath
    val dir2 = Files.createTempDirectory("fwspj2").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    def writeTo(dir: String, rows: Long): Unit =
      spark.range(0, rows)
        .select(col("id"), (col("id") % 4).cast("int").as("nk"),
          (col("id") % 100).cast("double").as("score"))
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", psc).option("partitionBy", "nk")
        .mode("overwrite").save(dir)
    writeTo(dir1, 4000)
    writeTo(dir2, 400)
    def read(dir: String) = spark.read
      .format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk").load(dir)
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedThr =
      conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // aggregation keyed on the partition column: no exchange
      val agg = read(dir1).groupBy("nk").agg(sum("score").as("s"))
      assert(agg.collect().length === 4)
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"partition-keyed aggregation must not shuffle:\n$aggPlan")
      // storage-partitioned join: both sides key-grouped on nk
      val j = read(dir1).groupBy("nk").agg(count(lit(1)).as("n1"))
        .join(read(dir2).groupBy("nk").agg(count(lit(1)).as("n2")), "nk")
        .orderBy("nk")
      val got = j.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === Seq((0, 1000L, 100L), (1, 1000L, 100L),
        (2, 1000L, 100L), (3, 1000L, 100L)))
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join must not shuffle:\n$jPlan")
    } finally {
      saved match {
        case Some(v) =>
          conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      savedThr match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("partitioned layout: null partition values and streaming are " +
      "refused; snapshot pins are flat-table-only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwpartref").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    val e = intercept[Exception] {
      Seq((1L, Option.empty[Int], 1.0)).toDF("id", "nk", "score")
        .write.format("graft.sources.FixedWidth")
        .option("schema", psc).option("partitionBy", "nk")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("must be non-null")
      || Option(e.getCause).exists(_.getMessage.contains("must be non-null")),
      e.toString)
    Seq((1L, 2, 1.0)).toDF("id", "nk", "score")
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .mode("overwrite").save(dir)
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", psc).option("partitionBy", "nk")
        .option("versionAsOf", "1").load(dir).collect()
    }
    assert(e2.getMessage.contains("flat-table"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.readStream.format("graft.sources.FixedWidth")
        .option("schema", psc).option("partitionBy", "nk").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("fwpartck").toString)
        .start().processAllAvailable()
    }
    assert(e3.getMessage.contains("partitionBy")
      || e3.getMessage.contains("flat-table"), e3.getMessage)
  }

  test("grouped metadata aggregates: GROUP BY the partition column " +
      "answers from dir sizes and sidecars, zero record IO") {
    val dir = Files.createTempDirectory("fwpagg").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    spark.range(0, 4000)
      .select(col("id"), (col("id") % 4).cast("int").as("nk"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(4)
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .mode("overwrite").save(dir)
    def read() = spark.read.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk").load(dir)
    val got = read().groupBy("nk")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"),
        max("score").as("hs"))
      .orderBy("nk").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === Seq(
      (0, 1000L, 0L, 3996L, 96.0), (1, 1000L, 1L, 3997L, 97.0),
      (2, 1000L, 2L, 3998L, 98.0), (3, 1000L, 3L, 3999L, 99.0)))
    assert(FixedWidth.lastScanSummary.contains("pushed-agg"),
      s"grouped aggregate left the metadata path: ${FixedWidth.lastScanSummary}")
    // a filter declines the grouped pushdown but stays correct
    val f = read().filter(col("score") > 50.0).groupBy("nk")
      .agg(count(lit(1)).as("n")).orderBy("nk").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(f.toSeq === Seq((0, 480L), (1, 480L), (2, 480L), (3, 520L)))
    assert(!FixedWidth.lastScanSummary.contains("pushed-agg"),
      "filtered grouped aggregates must scan")
  }

  test("partitioned compaction packs within partition dirs; keyed " +
      "rewrites refuse the partitioned layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwpopt").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    // 8 writer tasks x 2 partition values = many small files per dir
    spark.range(0, 2000)
      .select(col("id"), (col("id") % 2).cast("int").as("nk"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(8)
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .mode("overwrite").save(dir)
    val before = FwFiles.listPartitioned(dir, "nk")
    assert(before.length === 16)
    val report = FwMaintenance.optimize(spark, dir, targetBytes = 10L << 20)
    assert(report.groups === 2 && report.filesAfter === 2
      && report.committedVersion === None, report.toString)
    val after = FwFiles.listPartitioned(dir, "nk")
    assert(after.length === 2)
    assert(after.map(_._1).sorted.toSeq === Seq("0", "1"),
      "one compacted file per partition dir")
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk").load(dir)
    assert(re.count() === 2000L)
    assert(re.filter(col("nk") === 1).agg(sum("id")).collect()
      .head.getLong(0) === (1L until 2000L by 2).sum)
    // keyed rewrites need the partition value in the records: refuse
    val sch = FixedWidth.parseSchema(psc)
    val e1 = intercept[IllegalArgumentException] {
      FwMaintenance.merge(spark, dir, sch,
        Seq((1L, 1, 1.0)).toDF("id", "nk", "score"), "id")
    }
    assert(e1.getMessage.contains("flat-table"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      FwMaintenance.deleteByKeys(spark, dir, sch, Seq(1L).toDF("id"), "id")
    }
    assert(e2.getMessage.contains("flat-table"), e2.getMessage)
  }

  test("sorted-file seek: range predicates binary-search the record " +
      "window; unverified claims never narrow") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwseek").toFile.getAbsolutePath
    // one 10k-record file, genuinely sorted on id
    spark.range(0, 10000)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .option("sortedBy", "id")
      .mode("overwrite").save(dir)
    val dataFile = FwFiles.list(dir).head
    assert(FwStats.sortedCol(dataFile, dataFile.length()) === Some("id"))
    def read() = spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .load(dir)
    // a 100-record window out of 10k: 9900 records never planned
    assert(read().filter(col("id") >= 5000L && col("id") < 5100L)
      .count() === 100L)
    assert(FixedWidth.lastSeekSkippedRecords === 9900L,
      s"seek skipped ${FixedWidth.lastSeekSkippedRecords}")
    // point lookup narrows to one record; a miss narrows to zero
    assert(read().filter(col("id") === 7777L).count() === 1L)
    assert(FixedWidth.lastSeekSkippedRecords === 9999L)
    assert(read().filter(col("id") === 10007L).count() === 0L)
    // (the zone map may already skip the whole file on a miss)
    // open-ended bounds narrow one side only
    assert(read().filter(col("id") > 9989L).count() === 10L)
    assert(FixedWidth.lastSeekSkippedRecords === 9990L)
    // a filter on an unsorted column never narrows but stays correct
    assert(read().filter(col("score") === 13.0).count() === 100L)
    assert(FixedWidth.lastSeekSkippedRecords === 0L)

    // an UNSORTED write claiming sortedBy must not get the flag
    val dir2 = Files.createTempDirectory("fwseek2").toFile.getAbsolutePath
    Seq((5L, "e", 1.0), (3L, "c", 2.0), (9L, "i", 3.0))
      .toDF("id", "name", "score").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", spec).option("sortedBy", "id")
      .mode("overwrite").save(dir2)
    val f2 = FwFiles.list(dir2).head
    assert(FwStats.sortedCol(f2, f2.length()) === None,
      "a false sort claim must not be certified")
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir2)
      .filter(col("id") >= 4L).count() === 2L)
    assert(FixedWidth.lastSeekSkippedRecords === 0L)

    // string sort keys narrow too
    val dir3 = Files.createTempDirectory("fwseek3").toFile.getAbsolutePath
    Seq((1L, "alpha", 1.0), (2L, "beta", 2.0), (3L, "delta", 3.0),
      (4L, "gamma", 4.0), (5L, "omega", 5.0))
      .toDF("id", "name", "score").coalesce(1)
      .write.format("graft.sources.FixedWidth")
      .option("schema", spec).option("sortedBy", "name")
      .mode("overwrite").save(dir3)
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir3)
      .filter(col("name") >= "beta" && col("name") <= "delta")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(FixedWidth.lastSeekSkippedRecords === 3L)
  }

  test("vacuum trims manifest history, sweeps strays, and removes " +
      "files only dropped versions reference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwvac").toFile.getAbsolutePath
    def write(rows: Seq[(Long, String, Double)], mode: String): Unit =
      rows.toDF("id", "name", "score").coalesce(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    write(Seq((1L, "a", 1.0)), "overwrite") // v1
    write(Seq((2L, "b", 2.0)), "append") // v2
    write(Seq((3L, "c", 3.0)), "append") // v3
    // a crashed writer's stray: old enough to clear the retention
    // window (vacuum only sweeps tmps past the TTL)
    val oldStray = new java.io.File(dir, "stray.fw.tmp")
    Files.write(oldStray.toPath, Array[Byte](1, 2, 3))
    assert(oldStray.setLastModified(
      System.currentTimeMillis() - FwMaintenance.DefaultStrayTtlMillis
        - 60000L))
    // an in-flight writer's fresh tmp must survive the sweep
    val freshTmp = new java.io.File(dir, "inflight.fw.tmp")
    Files.write(freshTmp.toPath, Array[Byte](9))
    val v1Files = FwVersions.read(dir).find(_.v == 1L).get.files.map(_._1)
    // compaction retires (and RETAINS) the three appended files; once
    // retainLast=1 drops every version referencing them, all three are
    // vacuum's orphans — including v1's name even if an external
    // producer reused it (truncated here to prove the sweep goes by
    // reference, not by content)
    val r0 = FwMaintenance.optimize(spark, dir, targetBytes = 1L << 20)
    assert(r0.committedVersion === Some(4L)) // v4 = one compacted file
    val resurrected = new java.io.File(dir, v1Files.head)
    Files.write(resurrected.toPath, Array.emptyByteArray)

    val report = FwMaintenance.vacuum(spark, dir, retainLast = 1)
    assert(report === FwMaintenance.VacuumReport(versionsRetained = 1,
      versionsDropped = 3, strayTmpsRemoved = 1, orphanFilesRemoved = 3),
      report.toString)
    assert(!resurrected.exists(), "the dropped-version name is swept")
    assert(!oldStray.exists())
    assert(freshTmp.exists(), "a fresh tmp inside the TTL survives")
    freshTmp.delete()
    // the manifest's own tmp name is never swept, even past the TTL.
    // (Plant it AFTER the trimming vacuum: a vacuum that drops
    // versions rewrites the manifest through this very name, so the
    // guard is only observable on a no-drop vacuum.)
    val manifestTmp = new java.io.File(dir, "_fw_versions.json.tmp")
    Files.write(manifestTmp.toPath, Array[Byte](9))
    assert(manifestTmp.setLastModified(
      System.currentTimeMillis() - FwMaintenance.DefaultStrayTtlMillis
        - 60000L))
    val r2 = FwMaintenance.vacuum(spark, dir, retainLast = 5)
    assert(r2.strayTmpsRemoved === 0)
    assert(manifestTmp.exists(), "the manifest tmp is never swept")
    manifestTmp.delete()
    // the retained snapshot still reads; dropped pins fail cleanly
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("versionAsOf", "4").load(dir)
      .count() === 3L)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", "2").load(dir)
        .collect()
    }
    assert(e.getMessage.contains("no version 2")
      && e.getMessage.contains("4..4"), e.getMessage)
    // live reads are untouched
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir).count() === 3L)
  }

  test("clone hard-links the latest snapshot as the target's v1; a " +
      "source overwrite cannot break the clone; non-empty targets " +
      "refuse") {
    import spark.implicits._
    val src = Files.createTempDirectory("fwclsrc").toFile.getAbsolutePath
    def write(rows: Seq[(Long, String, Double)], mode: String): Unit =
      rows.toDF("id", "name", "score").coalesce(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(src)
    write(Seq((1L, "a", 1.0), (2L, "b", 2.0)), "overwrite") // v1
    write(Seq((3L, "c", 3.0)), "append") // v2
    val dst = Files.createTempDirectory("fwcldst").toFile.getAbsolutePath
    new java.io.File(dst).delete() // cloneTable creates it
    val report = FwMaintenance.cloneTable(spark, src, dst)
    assert(report.filesLinked === 2 && report.bytes === 3L * 21,
      report.toString)
    def readAll(dir: String) = spark.read
      .format("graft.sources.FixedWidth").option("schema", spec).load(dir)
    assert(readAll(dst).count() === 3L)
    // the clone is version 1 of ITS OWN history
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("history", "true").option("schema", spec).load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      === Seq((1L, 3L)))
    // zone-map sidecars came along: a pruning filter still skips files
    assert(readAll(dst).filter(col("id") === 3L).count() === 1L)
    // source TRUNCATE deletes the source's names; the clone's hard
    // links keep the bytes alive
    write(Seq((9L, "z", 9.0)), "overwrite")
    assert(readAll(src).count() === 1L)
    assert(readAll(dst).count() === 3L, "clone survives source rewrite")
    val eFull = intercept[Exception] {
      FwMaintenance.cloneTable(spark, src, dst)
    }
    assert(eFull.getMessage.contains("not empty"), eFull.getMessage)
  }

  test("clone COPIES legacy live-length files: an external producer " +
      "appending to the source file cannot grow the clone's live view") {
    import spark.implicits._
    val src = Files.createTempDirectory("fwclleg").toFile.getAbsolutePath
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
      .coalesce(1).write.format("graft.sources.FixedWidth")
      .option("schema", spec).mode("overwrite").save(src)
    // degrade the manifest to a legacy name-only (live-length) entry
    val files = FwVersions.read(src)
    FwVersions.write(src,
      files.map(r => FwVersion(r.v, r.files.map(f => (f._1, -1L)))))
    val dst = Files.createTempDirectory("fwcllegd").toFile.getAbsolutePath
    new java.io.File(dst).delete()
    FwMaintenance.cloneTable(spark, src, dst)
    def readAll(dir: String) = spark.read
      .format("graft.sources.FixedWidth").option("schema", spec).load(dir)
    assert(readAll(dst).count() === 2L)
    // external producer appends a record to the source's file in place
    val dataFile = new java.io.File(src,
      FwVersions.read(src).head.files.head._1)
    val fos = new java.io.FileOutputStream(dataFile, true)
    try fos.write("   3c            3.0\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally fos.close()
    assert(readAll(src).count() === 3L, "source live read sees the append")
    assert(readAll(dst).count() === 2L,
      "a hard-linked shared inode would have grown the clone's live view")
  }

  test("timestampAsOf rejects oversized digit strings with the " +
      "friendly error, not a raw NumberFormatException") {
    val e = intercept[IllegalArgumentException] {
      FwTable.parseTs("123456789012345678901234567890")
    }
    assert(e.getMessage.contains("epoch millis or an ISO-8601 instant"),
      e.getMessage)
    assert(FwTable.parseTs("1755100000000") === 1755100000000L)
    assert(FwTable.parseTs("2026-08-15T10:00:00Z") ===
      java.time.Instant.parse("2026-08-15T10:00:00Z").toEpochMilli)
  }

  test("rollback deletes newer files and trims history; manifest-" +
      "unknown fixtures survive; targets whose files were truncated " +
      "away refuse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fwrb").toFile.getAbsolutePath
    def write(rows: Seq[(Long, String, Double)], mode: String): Unit =
      rows.toDF("id", "name", "score").coalesce(1)
        .write.format("graft.sources.FixedWidth").option("schema", spec)
        .mode(mode).save(dir)
    write(Seq((1L, "a", 1.0)), "overwrite") // v1
    write(Seq((2L, "b", 2.0)), "append") // v2
    write(Seq((3L, "c", 3.0)), "append") // v3
    // a hand-built fixture the manifest never saw: not rollback's
    val fixture = new java.io.File(dir, "zz_fixture.fw")
    Files.write(fixture.toPath,
      FixedWidthWriter.render(schema, Seq(Seq[Any](7L, "fix", 0.5))))
    val report = FwMaintenance.rollback(spark, dir, toVersion = 1L)
    assert(report === FwMaintenance.RollbackReport(
      versionsDropped = 2, filesRemoved = 2), report.toString)
    assert(fixture.exists(), "fixtures outside the manifest survive")
    // live read = v1 + the fixture; pinned read = exactly v1
    def readAll = spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).load(dir)
    assert(readAll.count() === 2L)
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", spec).option("versionAsOf", "1").load(dir)
      .count() === 1L)
    val eGone = intercept[Exception] {
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", spec).option("versionAsOf", "2").load(dir)
        .collect()
    }
    assert(eGone.getMessage.contains("no version 2"), eGone.getMessage)
    // a later write continues the trimmed history at v2
    fixture.delete()
    write(Seq((4L, "d", 4.0)), "append")
    assert(readAll.count() === 2L)
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("history", "true").option("schema", spec).load(dir)
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // a TRUNCATE deletes v1/v2's files: rolling back past it refuses
    write(Seq((9L, "z", 9.0)), "overwrite") // v3, deletes older files
    val eTrunc = intercept[Exception] {
      FwMaintenance.rollback(spark, dir, toVersion = 1L)
    }
    assert(eTrunc.getMessage.contains("no longer exists"),
      eTrunc.getMessage)
  }

  test("bucketed layout: equality predicates name their buckets; a " +
      "same-bucketing fact-fact join runs with zero shuffle") {
    val d1 = Files.createTempDirectory("fwbkt1").toFile.getAbsolutePath
    val d2 = Files.createTempDirectory("fwbkt2").toFile.getAbsolutePath
    val bsc = "id:long:8,name:string:6,score:double:8"
    def writeTo(dir: String, rows: Long): Unit =
      spark.range(0, rows)
        .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
          (col("id") % 100).cast("double").as("score"))
        .repartition(4)
        .write.format("graft.sources.FixedWidth")
        .option("schema", bsc)
        .option("bucketBy", "id").option("buckets", "8")
        .mode("overwrite").save(dir)
    writeTo(d1, 4000)
    writeTo(d2, 1000)
    val subs = new java.io.File(d1).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(subs.toSeq === (0 until 8).map(i => s"bucket=$i").sorted)
    def read(dir: String) = spark.read
      .format("graft.sources.FixedWidth")
      .option("schema", bsc)
      .option("bucketBy", "id").option("buckets", "8").load(dir)
    // the bucket column is stored: rows round-trip completely
    assert(read(d1).count() === 4000L)
    assert(read(d1).agg(sum("id")).collect().head.getLong(0)
      === 4000L * 3999 / 2)
    // equality names its bucket: 7 of 8 dirs never touched
    assert(read(d1).filter(col("id") === 777L).count() === 1L)
    assert(FixedWidth.lastPrunedPartitions === 7,
      s"pruned ${FixedWidth.lastPrunedPartitions}")
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val savedThr = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a fact-fact equi-join on the bucket key THROUGH THE CATALOG:
      // bucket transforms only resolve against a FunctionCatalog (the
      // Iceberg contract), so SPJ needs catalog-routed tables — both
      // sides then report bucket(8, id) and join with zero exchanges
      spark.conf.set("spark.sql.catalog.fwcat_b",
        classOf[FwCatalog].getName)
      spark.sql("DROP TABLE IF EXISTS fwcat_b.ns.f1")
      spark.sql("DROP TABLE IF EXISTS fwcat_b.ns.f2")
      spark.sql(s"""CREATE TABLE fwcat_b.ns.f1
        (id BIGINT, name STRING, score DOUBLE)
        OPTIONS (path '$d1', widths '8,6,8',
                 bucketBy 'id', buckets '8')""")
      spark.sql(s"""CREATE TABLE fwcat_b.ns.f2
        (id BIGINT, name STRING, score DOUBLE)
        OPTIONS (path '$d2', widths '8,6,8',
                 bucketBy 'id', buckets '8')""")
      val j = spark.table("fwcat_b.ns.f1")
        .join(spark.table("fwcat_b.ns.f2"), "id")
        .agg(count(lit(1)).as("n"), sum("id").as("s"))
      val got = j.collect().head
      assert(got.getLong(0) === 1000L)
      assert(got.getLong(1) === 1000L * 999 / 2)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      saved match {
        case Some(v) =>
          conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      savedThr match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("sorted-seek narrows record windows inside partitioned and " +
      "bucketed scans too") {
    val dir = Files.createTempDirectory("fwpseek").toFile.getAbsolutePath
    val psc = "id:long:6,nk:int:4,score:double:8"
    // sorted within each partition: repartition by nk then sort by id
    spark.range(0, 8000)
      .select(col("id"), (col("id") % 4).cast("int").as("nk"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(4, col("nk")).sortWithinPartitions("nk", "id")
      .write.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk")
      .option("sortedBy", "id")
      .mode("overwrite").save(dir)
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", psc).option("partitionBy", "nk").load(dir)
    // 2000 records per partition; an id range covering 1/8 of each
    assert(re.filter(col("id") >= 7000L).count() === 1000L)
    assert(FixedWidth.lastSeekSkippedRecords === 7000L,
      s"partitioned seek skipped ${FixedWidth.lastSeekSkippedRecords}")
    // combined with partition pruning: one dir, one narrowed window
    assert(re.filter(col("nk") === 2 && col("id") >= 7000L)
      .count() === 250L)
    assert(FixedWidth.lastPrunedPartitions === 3)
    assert(FixedWidth.lastSeekSkippedRecords === 1750L)

    val dir2 = Files.createTempDirectory("fwbseek").toFile.getAbsolutePath
    spark.range(0, 8000)
      .select(col("id"), concat(lit("n"), col("id") % 97).as("name"),
        (col("id") % 100).cast("double").as("score"))
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft.sources.FixedWidth")
      .option("schema", "id:long:8,name:string:6,score:double:8")
      .option("bucketBy", "id").option("buckets", "4")
      .option("sortedBy", "id")
      .mode("overwrite").save(dir2)
    val rb = spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:8,name:string:6,score:double:8")
      .option("bucketBy", "id").option("buckets", "4").load(dir2)
    assert(rb.filter(col("id") >= 6000L).count() === 2000L)
    assert(FixedWidth.lastSeekSkippedRecords === 6000L,
      s"bucketed seek skipped ${FixedWidth.lastSeekSkippedRecords}")
  }

  test("compaction preserves sort certificates when boundary envelopes " +
      "prove the concatenation sorted") {
    val dir = Files.createTempDirectory("fwoptsrt").toFile.getAbsolutePath
    val sc4 = "id:long:6,name:string:6,score:double:8"
    val sch4 = FixedWidth.parseSchema(sc4)
    // two certified-sorted files with DISJOINT ascending ranges in
    // deterministic name order, so pack order = range order and the
    // concat is provably sorted
    def render(nm: String, lo: Long, hi: Long, d: String): Unit = {
      val recs = (lo until hi).map(id =>
        Seq[Any](id, "n" + (id % 97), (id % 100).toDouble))
      val f = new java.io.File(d, s"$nm.fw")
      Files.write(f.toPath, FixedWidthWriter.render(sch4, recs))
      FwStats.write(FwStats.sidecarFor(f.getPath),
        Map("id" -> FwIntStats(lo, hi - 1)), f.length(),
        sortedBy = Some("id"))
    }
    render("a", 0, 1000, dir)
    render("b", 1000, 2000, dir)
    val r = FwMaintenance.optimize(spark, dir, targetBytes = 10L << 20)
    assert(r.filesAfter === 1, r.toString)
    val out = FwFiles.list(dir).head
    assert(FwStats.sortedCol(out, out.length()) === Some("id"),
      "ordered boundaries must carry the certificate through")
    // seek narrowing works on the compacted file
    val re = spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .load(dir)
    assert(re.filter(col("id") >= 500L && col("id") < 1500L)
      .count() === 1000L)
    assert(FixedWidth.lastSeekSkippedRecords === 1000L)

    // OVERLAPPING ranges must drop the certificate (the concat is not
    // sorted), and reads stay correct without narrowing
    val dir2 = Files.createTempDirectory("fwoptsrt2").toFile.getAbsolutePath
    render("a", 0, 1000, dir2)
    render("b", 500, 1500, dir2)
    val r2 = FwMaintenance.optimize(spark, dir2, targetBytes = 10L << 20)
    assert(r2.filesAfter === 1)
    val out2 = FwFiles.list(dir2).head
    assert(FwStats.sortedCol(out2, out2.length()) === None,
      "overlapping boundaries must not certify")
    assert(spark.read.format("graft.sources.FixedWidth")
      .option("schema", "id:long:6,name:string:6,score:double:8")
      .load(dir2).filter(col("id") === 750L).count() === 2L)
  }

  test("compaction stats merge: NaN flags OR, unbounded stays unbounded, " +
      "type clashes drop the column") {
    val a = Map[String, FwColStats]("i" -> FwIntStats(5L, 10L),
      "d" -> FwDblStats(Some(1.0), Some(2.0), hasNaN = false))
    val b = Map[String, FwColStats]("i" -> FwIntStats(-3L, 7L),
      "d" -> FwDblStats(None, None, hasNaN = true),
      "only_b" -> FwIntStats(1L, 1L))
    val m = FwMaintenance.mergeStats(Seq(a, b))
    assert(m("i") === FwIntStats(-3L, 10L))
    assert(m("d") === FwDblStats(Some(1.0), Some(2.0), hasNaN = true))
    assert(m("only_b") === FwIntStats(1L, 1L),
      "a column one input never saw keeps the other's envelope")
    val clash = FwMaintenance.mergeStats(Seq(
      Map("x" -> FwIntStats(1L, 2L)),
      Map("x" -> FwDblStats(Some(0.5), Some(1.5), hasNaN = false))))
    assert(clash === Map.empty, "mixed-type stats must drop the column")
  }
}
