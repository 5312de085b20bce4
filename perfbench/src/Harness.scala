package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.claims._

/** The benchmark's JVM side. It drives the engine only through public entry
  * points (`ClaimPipeline.run`, the claims layer functions, and
  * `SparkEntry.queries`), times units, checks claims outputs byte for byte,
  * dumps each query's full result once for the hash check that `run.py`
  * makes, and writes everything it measured as one JSON file.
  *
  * Arguments are `key=value`: workload, units (timed units to run), limit
  * (seconds after which no further unit starts), seed, trace (0|1), t0
  * (epoch ms at process spawn), work (scratch dir), out (result file), and
  * per workload either files/expCand/expMetrics (claims) or data/queries.
  */
object Harness {
  private final case class UnitRecord(id: Int, kind: String, ok: Boolean,
      error: String, wallS: Double, heapPeakB: Long,
      queries: Seq[QuerySample], counters: Map[String, Double],
      jobCoverS: Double, layers: Map[String, Double])
  private final case class QuerySample(name: String, s: Double, buildS: Double,
      actionS: Double, jobs: Double)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(3) }
    System.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val count = opt("units").toInt
    val limit = opt("limit").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (workload == "claims_e2e")
      // As graft.claims.Main configures its session (no env overrides).
      builder.master("local[*]").appName("graft-claim-pipeline")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
    else
      // As graft.Bench configures its session, at local[nproc].
      builder.master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val heap = new HeapWatcher
    val tracer = new Tracer
    val counters = new SparkCounters(spark)
    val units = ArrayBuffer.empty[UnitRecord]
    var setupS = Double.NaN

    // `body` is timed; `verify` checks its outputs after the clock stops.
    def record(kind: String, traced: Boolean, verify: () => Unit = () => ())(
        body: => (Seq[QuerySample], Map[String, Double])): Unit = {
      val id = units.size
      tracer.unit = id
      tracer.enabled = traced
      if (traced) counters.attach()
      val before = if (traced) counters.snapshot() else Map.empty[String, Double]
      // Each unit starts from a collected heap, so the peak after a GC
      // within it is the unit's live data, not garbage left by earlier units.
      System.gc()
      heap.takePeak()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var wall = Double.NaN
      var endMs = 0L
      val (ok, err, qs, layers) =
        try {
          val (q, l) = try body finally {
            wall = secs(t0)
            endMs = System.currentTimeMillis()
          }
          verify()
          (true, "", q, l)
        } catch {
          case e: OutputMismatch => (false, "OutputMismatch: " + e.getMessage, Nil, Map.empty[String, Double])
          case e: Throwable => (false, e.getClass.getName, Nil, Map.empty[String, Double])
        }
      val peak = heap.takePeak()
      val (delta, cover) =
        if (!traced) (Map.empty[String, Double], 0.0)
        else {
          val after = counters.snapshot()
          counters.detach()
          (after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) },
            counters.jobCoverMs(startMs, endMs) / 1e3)
        }
      units += UnitRecord(id, kind, ok, err, wall, peak, qs, delta, cover, layers)
      spark.catalog.clearCache()
    }

    // A fixed number of units, so every run samples the same stretch of
    // JIT warm-up; `limit` only guards the run's length.
    def timedLoop(step: => Unit): Unit = {
      setupS = (System.currentTimeMillis() - opt("t0").toDouble) / 1e3
      val t0 = System.nanoTime()
      var i = 0
      while (i < count && (i == 0 || secs(t0) < limit)) { step; i += 1 }
    }

    try workload match {
      case "claims_e2e" =>
        val files = opt("files").split(",").toSeq
        val expCand = Files.readAllBytes(Paths.get(opt("expCand")))
        val expMetrics = Files.readAllBytes(Paths.get(opt("expMetrics")))
        val cand = work.resolve("resubmission_candidates.json")
        val metrics = work.resolve("pipeline_metrics.log")
        def unit(): (Seq[QuerySample], Map[String, Double]) = {
          tracer.span("claims.ClaimPipeline.run") {
            ClaimPipeline.run(spark, files, PipelineConfig(),
              outputPath = cand.toString, metricsPath = metrics.toString)
          }
          (Nil, Map.empty)
        }
        val verify = () => {
          checkBytes(cand, expCand)
          checkBytes(metrics, expMetrics)
          Files.delete(cand) // so the next unit cannot pass on a stale file
          Files.delete(metrics)
        }
        record("check", traced = false, verify)(unit())
        timedLoop {
          if (!trace) record("timed", traced = false, verify)(unit())
          else {
            record("untraced", traced = false, verify)(unit())
            record("traced", traced = true, verify)(unit())
            record("staged", traced = true)(
              (Nil, stagedClaims(spark, tracer, files, work, expCand, expMetrics)))
          }
        }

      case _ =>
        val dir = opt("data")
        val names = opt("queries").split(",").toSeq
        val fns = { val all = SparkEntry.queries; names.map(n => n -> all(n)).toMap }
        val rng = new scala.util.Random(opt("seed").toLong)
        def pass(traced: Boolean): (Seq[QuerySample], Map[String, Double]) = {
          val samples = rng.shuffle(names).map { name =>
            val fn = fns(name)
            val jobs0 = if (traced) counters.snapshot()("jobs") else 0.0
            val t0 = System.nanoTime()
            tracer.span(s"queries.$name") {
              val df = tracer.span("queries.build")(fn(spark, dir))
              val buildS = secs(t0)
              tracer.span("queries.action") {
                df.write.format("noop").mode("overwrite").save()
              }
              val s = secs(t0)
              spark.catalog.clearCache()
              val jobs = if (traced) counters.snapshot()("jobs") - jobs0 else 0.0
              QuerySample(name, s, buildS, s - buildS, jobs)
            }
          }
          (samples, Map.empty)
        }
        // Untimed full-result dump of every query; run.py hashes it against
        // the recorded oracle-checked hashes.
        record("check", traced = false) {
          val oracle = SparkEntry.oracleSql
          Files.createDirectories(work.resolve("check"))
          json.writeValue(work.resolve("check").resolve("oracle_sql.json").toFile,
            names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
          names.foreach { name =>
            fns(name)(spark, dir).coalesce(1).write
              .mode("overwrite").parquet(work.resolve("check").resolve(name).toString)
            spark.catalog.clearCache()
          }
          (Nil, Map.empty)
        }
        timedLoop {
          if (!trace) record("timed", traced = false)(pass(traced = false))
          else {
            record("untraced", traced = false)(pass(traced = false))
            record("traced", traced = true)(pass(traced = true))
          }
        }
    } finally {
      writeResult(Paths.get(opt("out")), setupS, units.toSeq, tracer.spans.toSeq, cores)
      spark.stop()
    }
  }

  private final class OutputMismatch(msg: String) extends Exception(msg)

  private def checkBytes(p: Path, expected: Array[Byte]): Unit = {
    if (!Files.exists(p)) throw new OutputMismatch(s"${p.getFileName} missing")
    if (!java.util.Arrays.equals(Files.readAllBytes(p), expected))
      throw new OutputMismatch(s"${p.getFileName} differs from the generator's oracle")
  }

  /** Each claims layer's public function, in its own span, run on the
    * previous layer's materialized output. The spans are layer costs, not
    * shares of the fused single-job run that `ClaimPipeline.run` makes.
    * Returns the layers' counts.
    */
  private def stagedClaims(spark: SparkSession, tracer: Tracer, files: Seq[String],
      work: Path, expCand: Array[Byte], expMetrics: Array[Byte]): Map[String, Double] =
    tracer.span("claims.staged") {
      val cfg = PipelineConfig()
      // Each layer's output is fully materialized through the noop sink in
      // the layer's span, then cached outside it as the next layer's input.
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def cached(df: DataFrame): DataFrame = {
        val c = df.persist(StorageLevel.MEMORY_ONLY)
        c.count()
        c
      }
      // A fixed copy of the per-file read of ClaimPipeline's order-preserving
      // path (its loadFile is private): one partition per file, rows
      // numbered in input order. A change to loadFile does not show here.
      val frames = files.zipWithIndex.map { case (p, i) =>
        val n =
          if (p.endsWith(".csv"))
            Normalize.normalizeAlpha(spark.read.option("header", "true")
              .option("mode", "PERMISSIVE").csv(p).coalesce(1))
          else
            Normalize.normalizeBeta(spark.read.option("multiLine", "true")
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt_record")
              .schema(Schemas.betaRaw).json(p).coalesce(1))
        n.withColumn("_file_seq", lit(i))
          .withColumn("_row_seq", monotonically_increasing_id())
      }
      val ingest = frames.reduce(_.unionByName(_))
      tracer.span("claims.Normalize.ingest")(noop(ingest))
      val normalized = cached(ingest)
      val bySource = normalized.groupBy("source_system").count().collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      val corrupt = normalized.filter(col("_corrupt")).count().toDouble

      val withDerived = Eligibility.withDerived(normalized, cfg)
      tracer.span("claims.Eligibility.derive")(noop(withDerived))
      val derived = cached(withDerived)
      val metrics = tracer.span("claims.Metrics.observe") {
        val obs = Observation()
        val exprs = PipelineMetrics.aggExprs(col("eligible"), col("exclusion_reason"),
          col("source_system"), col("_corrupt"))
        noop(derived.observe(obs, exprs.head, exprs.tail: _*))
        PipelineMetrics.fromObserved(obs.get, 0L, bugCompat = false)
      }
      // ClaimPipeline.run's candidate projection, handed to the program's
      // own sink: the sink span is its collect and render together.
      val candidates = derived.filter(col("eligible") && !col("_corrupt"))
        .select(col("claim_id"), col("denial_reason").as("resubmission_reason"),
          col("source_system"),
          Eligibility.recommendedChanges(col("denial_reason")).as("recommended_changes"),
          col("_file_seq"), col("_row_seq"))
        .orderBy("_file_seq", "_row_seq").drop("_file_seq", "_row_seq")
      val cand = work.resolve("staged_candidates.json")
      val rows = tracer.span("claims.Sinks.write_candidates") {
        Sinks.writeCandidatesPretty(candidates, cand.toString)
      }
      // The render alone, of the rows the sink returned, to a second file.
      val rendered = work.resolve("staged_rendered.json")
      tracer.span("claims.Sinks.render") {
        val out = Files.newBufferedWriter(rendered, StandardCharsets.UTF_8)
        try Sinks.renderJsonArrayTo(out, rows) finally out.close()
      }
      val metricsPath = work.resolve("staged_metrics.log")
      tracer.span("claims.Sinks.write_metrics") {
        Sinks.writeMetrics(metrics, metricsPath.toString)
      }
      checkBytes(cand, expCand)
      checkBytes(rendered, expCand)
      checkBytes(metricsPath, expMetrics)
      derived.unpersist(blocking = true)
      normalized.unpersist(blocking = true)
      Map(
        "claims.Normalize.rows_in_alpha" -> bySource.getOrElse("alpha", 0.0),
        "claims.Normalize.rows_in_beta" -> bySource.getOrElse("beta", 0.0),
        "claims.Normalize.corrupt_rows" -> corrupt,
        "claims.Eligibility.flag_ratio" ->
          metrics.flaggedForResubmission.toDouble / metrics.totalProcessed,
        "claims.Sinks.candidate_bytes" -> Files.size(cand).toDouble)
    }

  private final case class Result(setupS: Option[Double], cores: Int,
      units: Seq[UnitRecord], spans: Seq[Span])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  private def writeResult(out: Path, setupS: Double, units: Seq[UnitRecord],
      spans: Seq[Span], cores: Int): Unit =
    json.writeValue(out.toFile, Result(Some(setupS).filterNot(_.isNaN), cores, units, spans))
}
