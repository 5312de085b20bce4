package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions, batch 140 (SURVEY.md §2.4):
  *
  *  - m27: REAL image decode through the JDK's `javax.imageio` — the
  *    engine's last stub retired. The query plants PNGs with formulaic
  *    pixels (one per doc_id < 40; dimensions and every channel value
  *    are pure functions of (doc_id, x, y)), ingests them through the
  *    binaryFile source, and decodes DISTRIBUTED via
  *    [[graft.mm.Multimodal.ImageIoCodec]] — width/height/channels from
  *    the decoded raster, per-channel pixel sums as the pooled feature.
  *    The oracle recomputes every value from the planted formula alone:
  *    a hash match proves the decoder returned the true pixels, not
  *    metadata. (Fixture write is a bounded 40-file driver loop, the
  *    m5 device.)
  *  - m28: REAL audio decode through the JDK's `javax.sound.sampled` —
  *    planted 16-bit mono PCM waveforms written as WAV containers,
  *    ingested through binaryFile, header-parsed and sample-decoded
  *    distributed via [[graft.mm.Multimodal.WavCodec]]; the oracle
  *    replays frame counts, sample rate, Σ|s| and peak amplitude from
  *    the waveform formula, so the hash match proves true PCM decode
  *    through the container round-trip.
  *  - m29: perceptual near-dup over REAL pixels — each planted image
  *    gets a brightness-nudged duplicate; both decode through ImageIO
  *    into an integer-exact 4×4 average hash (multiplicative threshold,
  *    no division rounding), and the orig↔dup Hamming distances come
  *    out of `bit_count(xor)`. The oracle replays hashes and distances
  *    from the pixel formula alone — the visual-dedup front end (m25's
  *    banding) now runs from true decoded pixels.
  *  - q351: incremental view maintenance under DELETES — q341's
  *    delta-join algebra extended to signed multiplicities. Both sides
  *    of V = orders ⋈ customer receive inserts (+1) AND retractions
  *    (−1); every delta term ΔA⋈B₀, A₀⋈ΔB, ΔA⋈ΔB carries the PRODUCT
  *    of its sides' signs, state merges by signed addition, and
  *    groups whose multiplicity reaches zero drop out. The oracle is
  *    the full rebuild over the post-delta tables: the hash match IS
  *    the incremental ≡ rebuild theorem under retractions — what a
  *    CDC-fed materialized view needs at 100 TB, where rebuilding is
  *    not an option. All partials are map-side-combinable aggregations
  *    over broadcast-joined dimension slices.
  */
object Analytics140 {
  import Tables.{centsLong, t}

  private val ImgDocs = 40
  private val WavDocs = 30
  private val AHashDocs = 12
  private val AHashGrid = 4

  /** Planted waveform — 16-bit mono PCM at 8 kHz, every sample a pure
    * function of (doc_id, i); both engines derive from this alone.
    */
  private def wavFrames(id: Long): Int = ((id % 5 + 2) * 50).toInt
  private def wavSample(id: Long, i: Int): Int =
    (((id * 37 + i * 11) % 4096) - 2048).toInt

  /** Planted pixel formula — the single source of truth both engines
    * derive from (the Spark side via real PNG encode→decode, the oracle
    * via direct recomputation).
    */
  private def dims(id: Long): (Int, Int) =
    ((id % 13 + 4).toInt, (id % 7 + 3).toInt)
  private def px(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 31 + x * 7 + y * 3) % 256).toInt,
      ((id * 17 + x * 5 + y * 11) % 256).toInt,
      ((id * 13 + x * 3 + y * 5) % 256).toInt)
  private def pxOther(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 41 + x * 13 + y * 17) % 256).toInt,
      ((id * 23 + x * 9 + y * 7) % 256).toInt,
      ((id * 19 + x * 15 + y * 13) % 256).toInt)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m27_imageio_decode" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m27", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < ImgDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val (w, h) = dims(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = px(id, x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
        }
        javax.imageio.ImageIO.write(img, "png",
          base.resolve(s"img_$id.png").toFile)
      }
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(base.toString)
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          // real decode, once per image, executor-side
          val p = graft.mm.Multimodal.ImageIoCodec.decode("image/png", bytes)
          (id, p.width.toLong, p.height.toLong, p.channels,
            p.features(0).toLong, p.features(1).toLong,
            p.features(2).toLong)
        })
        .toDF("doc_id", "width", "height", "channels",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    }),

    "m28_wav_decode" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m28", dir)
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
          // real header parse + PCM decode, once per clip, executor-side
          val pcm = graft.mm.Multimodal.WavCodec.decode(bytes)
          var sumAbs = 0L
          var peak = 0L
          var i = 0
          while (i < pcm.samples.length) {
            val a = math.abs(pcm.samples(i).toLong)
            sumAbs += a
            if (a > peak) peak = a
            i += 1
          }
          (id, pcm.nFrames, pcm.channels, pcm.sampleRateHz.toLong,
            sumAbs, peak)
        })
        .toDF("doc_id", "n_frames", "channels", "sample_rate",
          "sum_abs", "peak")
        .orderBy("doc_id")
    }),

    "m29_image_ahash_dups" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m29", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < AHashDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      // each id gets: a brightness-nudged near-duplicate (every channel
      // +3, clamped — aHash's threshold is shift-invariant, distance
      // stays ~0) and an unrelated image from a different pixel formula
      // (distance must move away from 0) — both sides of what a visual
      // dedup hash has to deliver
      ids.foreach { id =>
        Seq("orig", "dup", "othr").foreach { tag =>
          val (w, h) = dims(id)
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w) {
            val (r, g, b) =
              if (tag == "othr") pxOther(id, x, y) else px(id, x, y)
            val delta = if (tag == "dup") 3 else 0
            def cl(v: Int) = math.min(v + delta, 255)
            img.setRGB(x, y, (cl(r) << 16) | (cl(g) << 8) | cl(b))
          }
          javax.imageio.ImageIO.write(img, "png",
            base.resolve(s"${tag}_$id.png").toFile)
        }
      }
      val hashes = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(base.toString)
        .select(regexp_extract(col("path"), "([a-z]+)_\\d+\\.png$", 1)
          .as("variant"),
          regexp_extract(col("path"), "_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"), col("content"))
        .as[(String, Long, Array[Byte])]
        .mapPartitions(_.map { case (variant, id, bytes) =>
          // real decode -> integer-exact 4x4 average hash per image
          val (w, h, hash) =
            graft.mm.Multimodal.aHashFromImage(bytes, AHashGrid)
          (variant, id, w.toLong, h.toLong, hash)
        })
        .toDF("variant", "doc_id", "width", "height", "ahash")
        .localCheckpoint(true)
      hashes.filter(col("variant") === "orig")
        .select(col("doc_id"), col("width"), col("height"),
          col("ahash").as("hash_orig"))
        .join(hashes.filter(col("variant") === "dup")
          .select(col("doc_id"), col("ahash").as("hash_dup")),
          Seq("doc_id"))
        .join(hashes.filter(col("variant") === "othr")
          .select(col("doc_id"), col("ahash").as("hash_othr")),
          Seq("doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          col("hash_orig"), col("hash_dup"), col("hash_othr"),
          bit_count(col("hash_orig").bitwiseXOR(col("hash_dup")))
            .cast("long").as("hamming_dup"),
          bit_count(col("hash_orig").bitwiseXOR(col("hash_othr")))
            .cast("long").as("hamming_othr"))
        .orderBy("doc_id")
    }),

    "q351_join_ivm_retract" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val orders = t(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          centsLong(col("o_totalprice")).as("w"))
      val cutoff = lit("1996-01-01").cast("date")
      // base state and signed deltas: late orders arrive (+1), a slice
      // of the base retracts (−1); a customer segment arrives (+1), a
      // slice of the base churns out (−1)
      val a0 = orders.filter(col("o_orderdate") < cutoff)
      val da = a0.filter(col("o_orderkey") % 7 === 0)
        .withColumn("sa", lit(-1L))
        .union(orders.filter(col("o_orderdate") >= cutoff)
          .withColumn("sa", lit(1L)))
      val b0 = cust.filter(col("c_custkey") % 3 =!= 0)
      val db = b0.filter(col("c_custkey") % 5 === 0)
        .withColumn("sb", lit(-1L))
        .union(cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("sb", lit(1L)))
      def partial(o: DataFrame, c: DataFrame): DataFrame = o
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(sum(col("sa") * col("sb")).as("n"),
          sum(col("sa") * col("sb") * col("w")).as("s"))
      val old = partial(a0.withColumn("sa", lit(1L)),
        b0.withColumn("sb", lit(1L)))
      val delta = partial(da, b0.withColumn("sb", lit(1L)))
        .union(partial(a0.withColumn("sa", lit(1L)), db))
        .union(partial(da, db))
      old.union(delta)
        .groupBy("c_nationkey")
        .agg(sum(col("n")).as("n_orders"), sum(col("s")).as("rev_cents"))
        // a group retracted to zero multiplicity leaves the view
        .filter(col("n_orders") > 0)
        .select(col("c_nationkey"), col("n_orders"), col("rev_cents"),
          (col("rev_cents").cast("double")
            / col("n_orders").cast("double")).as("avg_cents"))
        .orderBy("c_nationkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "m27_imageio_decode" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents WHERE doc_id < $ImgDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 13 + 4 AS BIGINT) AS width,
         |    CAST(doc_id % 7 + 3 AS BIGINT) AS height
         |  FROM d),
         |xs AS (
         |  SELECT doc_id, width, height, unnest(range(width)) AS x
         |  FROM dims),
         |px AS (
         |  SELECT doc_id, width, height, x, unnest(range(height)) AS y
         |  FROM xs)
         |SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
         |  CAST(sum((doc_id*31 + x*7 + y*3) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((doc_id*17 + x*5 + y*11) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((doc_id*13 + x*3 + y*5) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,

    "m28_wav_decode" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents WHERE doc_id < $WavDocs),
         |dims AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 5 + 2) * 50 AS BIGINT) AS n_frames
         |  FROM d),
         |sm AS (
         |  SELECT doc_id, n_frames, unnest(range(n_frames)) AS i
         |  FROM dims),
         |vals AS (
         |  SELECT doc_id, n_frames,
         |    (doc_id * 37 + i * 11) % 4096 - 2048 AS s
         |  FROM sm)
         |SELECT doc_id, n_frames, CAST(1 AS INTEGER) AS channels,
         |  CAST(8000 AS BIGINT) AS sample_rate,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(max(abs(s)) AS BIGINT) AS peak
         |FROM vals GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    // the multiplicative-threshold hash replayed from the planted pixel
    // formula: luma = sum of the +delta-clamped channels, cells by the
    // exact x*grid//w map, bit set iff cellSum*totalCnt > totalSum*cellCnt
    "m29_image_ahash_dups" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id < $AHashDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 13 + 4 AS BIGINT) AS w,
         |    CAST(doc_id % 7 + 3 AS BIGINT) AS h
         |  FROM d),
         |v AS (SELECT * FROM (VALUES ('orig', 0), ('dup', 3),
         |  ('othr', 0)) AS t(variant, delta)),
         |xs AS (
         |  SELECT doc_id, w, h, variant, delta, unnest(range(w)) AS x
         |  FROM dims CROSS JOIN v),
         |pxl AS (
         |  SELECT doc_id, w, h, variant, delta, x, unnest(range(h)) AS y
         |  FROM xs),
         |lum AS (
         |  SELECT doc_id, w, h, variant,
         |    CASE WHEN variant = 'othr' THEN
         |      (doc_id*41 + x*13 + y*17) % 256
         |      + (doc_id*23 + x*9 + y*7) % 256
         |      + (doc_id*19 + x*15 + y*13) % 256
         |    ELSE
         |      least((doc_id*31 + x*7 + y*3) % 256 + delta, 255)
         |      + least((doc_id*17 + x*5 + y*11) % 256 + delta, 255)
         |      + least((doc_id*13 + x*3 + y*5) % 256 + delta, 255)
         |    END AS l,
         |    (y * $AHashGrid // h) * $AHashGrid + (x * $AHashGrid // w)
         |      AS c
         |  FROM pxl),
         |cells AS (
         |  SELECT doc_id, w, h, variant, c, sum(l) AS cs,
         |    count(*) AS cc
         |  FROM lum GROUP BY 1, 2, 3, 4, 5),
         |tot AS (
         |  SELECT doc_id, variant, sum(cs) AS ts, sum(cc) AS tc
         |  FROM cells GROUP BY 1, 2),
         |hsh AS (
         |  SELECT cells.doc_id, w, h, cells.variant,
         |    CAST(sum(CASE WHEN cs * tc > ts * cc
         |      THEN 1::BIGINT << CAST(c AS INTEGER)
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells JOIN tot
         |    ON cells.doc_id = tot.doc_id AND cells.variant = tot.variant
         |  GROUP BY 1, 2, 3, 4)
         |SELECT o.doc_id, o.w AS width, o.h AS height,
         |  o.ahash AS hash_orig, u.ahash AS hash_dup,
         |  x.ahash AS hash_othr,
         |  CAST(bit_count(xor(o.ahash, u.ahash)) AS BIGINT)
         |    AS hamming_dup,
         |  CAST(bit_count(xor(o.ahash, x.ahash)) AS BIGINT)
         |    AS hamming_othr
         |FROM hsh o
         |JOIN hsh u ON o.doc_id = u.doc_id AND u.variant = 'dup'
         |JOIN hsh x ON o.doc_id = x.doc_id AND x.variant = 'othr'
         |WHERE o.variant = 'orig'
         |ORDER BY o.doc_id""".stripMargin,

    // the full rebuild over the post-delta tables: base minus
    // retractions plus arrivals, on both sides
    "q351_join_ivm_retract" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        |  FROM orders
        |  WHERE (o_orderdate < DATE '1996-01-01' AND o_orderkey % 7 <> 0)
        |     OR o_orderdate >= DATE '1996-01-01'),
        |c AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE (c_custkey % 3 <> 0 AND c_custkey % 5 <> 0)
        |     OR c_custkey % 3 = 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(w) AS BIGINT) AS rev_cents,
        |  CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
        |FROM o JOIN c ON o_custkey = c_custkey
        |GROUP BY 1 HAVING count(*) > 0 ORDER BY c_nationkey""".stripMargin,
  )
}
