package graft.claims

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** End-to-end run result (reference `pipeline()` returns
  * `{output_path, candidates, metrics_path}`, claim_pipeline.py:233; we
  * additionally expose the metrics struct — SURVEY §3.2).
  */
final case class PipelineResult(
    outputPath: String,
    candidates: Seq[Row],
    metricsPath: String,
    metrics: PipelineMetrics,
)

/** The full resubmission pipeline: dispatch → normalize → union → eligibility
  * → enrich → sinks + metrics. Mirrors reference claim_pipeline.py:155-233.
  *
  * A run is one Spark job: the candidate job scans every input, and the
  * metrics ride that scan via `Dataset.observe`. No reader starts a job of
  * its own: the CSV reader reads each file's header row on the driver
  * (the columns are matched by header name), and the JSON reader has a
  * fixed schema.
  */
object ClaimPipeline {
  private val logger = LoggerFactory.getLogger(getClass)

  /** Read + normalize one input file through the `Normalize` reader of its
    * format, dispatched by extension (claim_pipeline.py:177-183): `.csv` →
    * alpha, `.json` → beta, anything else warns and is skipped with no
    * metrics effect (SURVEY §2.3 S10).
    *
    * Returns the normalized frame with bookkeeping columns `_corrupt`,
    * `_file_seq`, `_row_seq`. The last two key each row by its position in
    * the input (SURVEY §7.4 item 2), and the file is still read
    * split-parallel: `monotonically_increasing_id` is
    * (partition index << 33) + position in the partition, and Spark numbers
    * one file's splits in offset order, so the id grows with the row's
    * position in the file. (Multi-line JSON and `wholetext` reads are one
    * partition per file anyway.)
    */
  private def loadFile(spark: SparkSession, path: String, fileSeq: Int,
      loaderParity: Boolean): Option[DataFrame] = {
    val normalized =
      if (path.endsWith(".csv")) Some(Normalize.readAlpha(spark, path))
      else if (path.endsWith(".json"))
        Some(Normalize.readBeta(spark, path, loaderParity))
      else {
        logger.warn(s"Unsupported file type: $path")
        None
      }
    normalized.map(_.withColumn("_file_seq", lit(fileSeq))
      .withColumn("_row_seq", monotonically_increasing_id()))
  }

  /** Run the pipeline over `files`, writing the pretty-JSON candidates array
    * and the metrics text file, and returning both materialized results.
    *
    * Every file is read split-parallel, and the candidates are written in
    * input order (files in argument order, rows in file order), restored on
    * the driver from the `_file_seq`/`_row_seq` keys.
    */
  def run(
      spark: SparkSession,
      files: Seq[String],
      config: PipelineConfig = PipelineConfig(),
      outputPath: String = "resubmission_candidates.json",
      metricsPath: String = "pipeline_metrics.log",
  ): PipelineResult = {
    var fileMalformed = 0L
    val frames = files.zipWithIndex.flatMap { case (path, i) =>
      // File-level error isolation (claim_pipeline.py:213-215): an unreadable
      // / missing file logs, counts one malformed, and is skipped.
      try loadFile(spark, path, i, config.bugCompatFileAbort)
      catch {
        case e: Exception =>
          logger.warn(s"Failed to process file $path: ${e.getMessage}")
          fileMalformed += 1
          None
      }
    }

    val unioned: DataFrame = frames match {
      case Seq() =>
        import org.apache.spark.sql.types._
        val schema = Schemas.claim
          .add("_corrupt", BooleanType)
          .add("_file_seq", IntegerType)
          .add("_row_seq", LongType)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case fs => fs.reduce(_.unionByName(_))
    }

    // S11 file-abort bug-compat (claim_pipeline.py:213-215): the first
    // corrupt record of a file keeps the file's prior rows, counts
    // malformed ONCE, and drops the rest. Keeping rows up to AND INCLUDING
    // the first corrupt one reproduces exactly that: the retained corrupt
    // row contributes the single malformed count via the observe pass
    // (it is excluded from total_processed and from candidates already),
    // and everything after it vanishes. The per-file first-corrupt frame
    // is at most one row per input file — broadcast by size.
    val claims: DataFrame =
      if (!config.bugCompatFileAbort) unioned
      else {
        // Persisted: firstBad and the main pass both consume the load
        // lineage; without the cache every file would be wholetext-read
        // and VARIANT-re-parsed twice. Claim files are small config-like
        // extracts, so caching the normalized union is cheap.
        val loaded = unioned.persist()
        val firstBad = loaded.filter(col("_corrupt"))
          .groupBy(col("_file_seq")).agg(min(col("_row_seq")).as("_abort_seq"))
        loaded.join(broadcast(firstBad), Seq("_file_seq"), "left")
          .filter(col("_abort_seq").isNull || col("_row_seq") <= col("_abort_seq"))
          .drop("_abort_seq")
      }

    val obs = Observation()
    val metricExprs = PipelineMetrics.aggExprs(col("eligible"),
      col("exclusion_reason"), col("source_system"), col("_corrupt"))
    val observed = Eligibility.withDerived(claims, config)
      .observe(obs, metricExprs.head, metricExprs.tail: _*)

    // Single action: collect (bounded) candidates; the observe node sees every
    // input row because the candidate filter sits downstream of it. The sink
    // sorts the collected rows by the input-order keys on the driver and
    // strips them (see Sinks.writeCandidatesPretty for why the order is not
    // restored in Spark).
    val orderKeys = Seq("_file_seq", "_row_seq")
    val candidateRows = Sinks.writeCandidatesPretty(
      Eligibility.candidates(observed, orderKeys: _*), outputPath, orderKeys)

    val metrics = PipelineMetrics.fromObserved(
      obs.get, fileMalformed, config.bugCompatMetrics)
    Sinks.writeMetrics(metrics, metricsPath)

    // The bug-compat cache is only needed for this run's single action.
    if (config.bugCompatFileAbort) unioned.unpersist(blocking = false)

    PipelineResult(outputPath, candidateRows, metricsPath, metrics)
  }
}
