package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions, batch 150 (SURVEY.md §2.4, multimodal row) —
  * audio DSP over real decoded PCM:
  *
  *  - m34: AUDIO RESAMPLING (decimate-by-2) — the training-pipeline
  *    step that normalizes heterogeneous sample rates before feature
  *    extraction: each planted 8 kHz mono clip decodes through the
  *    REAL WAV codec (`graft.mm.Multimodal.WavCodec` — header parse +
  *    16-bit PCM, the m28 surface), then downsamples 2:1 with
  *    pair-averaging (out(j) = (s(2j)+s(2j+1)) quot 2 — TRUNCATING
  *    division on BOTH engines: Scala's Long `/` and DuckDB's integer
  *    `//` both round toward zero; PCM is signed, so floor-vs-truncate
  *    is a real parity trap — measured here, DuckDB `-5 // 2 = -2`).
  *    The oracle recomputes every output sample from the
  *    planted formula alone, so a hash match proves the decode AND
  *    the resampler arithmetic.
  *
  *    Scale shape: one binaryFile scan, decode + resample fused in a
  *    single mapPartitions pass (per-clip state only), per-doc
  *    aggregates exact in BIGINT — zero float surface.
  */
object Analytics150 {
  import Tables.t

  private val WavDocs = 30
  private def wavFrames(id: Long): Int = ((id % 5 + 2) * 50).toInt
  private def wavSample(id: Long, i: Int): Int =
    (((id * 37 + i * 11) % 4096) - 2048).toInt

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m34_audio_resample" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m34", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < WavDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val n = wavFrames(id)
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = wavSample(id, i)
          data(2 * i) = (s & 0xff).toByte
          data(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE,
          base.resolve(s"clip_$id.wav").toFile)
      }
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(base.toString)
        .select(regexp_extract(col("path"), "clip_(\\d+)\\.wav$", 1)
          .cast("long").as("doc_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val pcm = graft.mm.Multimodal.WavCodec.decode(bytes)
          val nOut = pcm.samples.length / 2
          var sumAbs = 0L
          var peak = 0L
          var j = 0
          while (j < nOut) {
            val r =
              (pcm.samples(2 * j).toLong + pcm.samples(2 * j + 1).toLong) / 2L
            val a = math.abs(r)
            sumAbs += a
            if (a > peak) peak = a
            j += 1
          }
          (id, pcm.samples.length.toLong, nOut.toLong,
            4000L, sumAbs, peak)
        })
        .toDF("doc_id", "n_in", "n_out", "out_rate", "sum_abs", "peak")
        .orderBy("doc_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // every output sample replayed from the planted formula; DuckDB's
    // integer `//` truncates toward zero, matching Scala Long `/`
    "m34_audio_resample" -> s"""
      WITH d AS (
        SELECT DISTINCT doc_id FROM documents WHERE doc_id < $WavDocs),
      dims AS (
        SELECT doc_id,
          CAST((doc_id % 5 + 2) * 50 AS BIGINT) AS n_in
        FROM d),
      pairs AS (
        SELECT doc_id, n_in, unnest(range(n_in // 2)) AS j
        FROM dims),
      vals AS (
        SELECT doc_id, n_in,
          (((doc_id * 37 + (2*j) * 11) % 4096 - 2048)
            + ((doc_id * 37 + (2*j+1) * 11) % 4096 - 2048)) // 2 AS r
        FROM pairs)
      SELECT doc_id, n_in, CAST(n_in // 2 AS BIGINT) AS n_out,
        CAST(4000 AS BIGINT) AS out_rate,
        CAST(sum(abs(r)) AS BIGINT) AS sum_abs,
        CAST(max(abs(r)) AS BIGINT) AS peak
      FROM vals GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
  )
}
