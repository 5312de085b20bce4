package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 additions, batch 81 (SURVEY.md §2.4) — multimodal, part 6:
  *
  *  - m33: SOBEL EDGE EXTRACTION over real decoded pixels — the
  *    gradient-filter stage of an image-preprocessing stack (edge
  *    density is a standard image-quality / near-blank-detection
  *    signal for multimodal training data), integer-exact end to end:
  *    planted PNGs (m31's pixel formula), distributed
  *    `javax.imageio` decode, 3×3 Sobel |Gx|+|Gy| over the m31
  *    luminance, per-image edge sum, strong-edge count (≥128) and a
  *    positional checksum. The oracle replays EVERY interior pixel's
  *    nine neighbors from the planted closed-form formula through the
  *    same integer kernel, so the hash match proves the real decoder
  *    and the formula agree gradient-by-gradient.
  *
  *    Scale shape: fixture write is a key-bounded driver loop (the m5
  *    discipline); decode + kernel run inside `mapPartitions` on the
  *    executors, one pass per raster, no shuffle until the final
  *    36-row orderBy.
  */
object TextOps81 {
  import Tables.t

  private val SobelDocs = 36

  // m31's planted pixel formula (kept bit-identical so the fixture
  // exercises the same decode path)
  private def dims(id: Long): (Int, Int) =
    ((id % 12 + 5).toInt, (id % 8 + 4).toInt)
  private def px(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 43 + x * 11 + y * 5) % 256).toInt,
      ((id * 29 + x * 7 + y * 13) % 256).toInt,
      ((id * 11 + x * 17 + y * 3) % 256).toInt)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m33_sobel_edges" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m33", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < SobelDocs)
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
          val (w, h, edgeSum, nStrong, checksum) =
            graft.mm.Multimodal.sobelFromImage(bytes)
          (id, w.toLong, h.toLong, edgeSum, nStrong, checksum)
        })
        .toDF("doc_id", "width", "height", "edge_sum", "n_strong",
          "checksum")
        .orderBy("doc_id")
    }),
  )

  /** The planted luminance at an (dx, dy) offset from the interior
    * pixel — inlined nine times into the Sobel taps below.
    */
  private def lumSql(dx: Int, dy: Int): String = {
    def at(v: String, d: Int) =
      if (d == 0) v else if (d > 0) s"($v + $d)" else s"($v - ${-d})"
    val (xx, yy) = (at("x", dx), at("y", dy))
    s"(((doc_id * 43 + $xx * 11 + $yy * 5) % 256" +
      s" + 2 * ((doc_id * 29 + $xx * 7 + $yy * 13) % 256)" +
      s" + ((doc_id * 11 + $xx * 17 + $yy * 3) % 256)) // 4)"
  }

  val oracleSql: Map[String, String] = Map(
    "m33_sobel_edges" -> {
      val gx = s"((${lumSql(1, -1)} + 2 * ${lumSql(1, 0)} + ${lumSql(1, 1)})" +
        s" - (${lumSql(-1, -1)} + 2 * ${lumSql(-1, 0)} + ${lumSql(-1, 1)}))"
      val gy = s"((${lumSql(-1, 1)} + 2 * ${lumSql(0, 1)} + ${lumSql(1, 1)})" +
        s" - (${lumSql(-1, -1)} + 2 * ${lumSql(0, -1)} + ${lumSql(1, -1)}))"
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id < $SobelDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 12 + 5 AS BIGINT) AS w,
         |    CAST(doc_id % 8 + 4 AS BIGINT) AS h
         |  FROM d),
         |xs AS (
         |  SELECT doc_id, w, h, unnest(range(1, w - 1)) AS x FROM dims),
         |inner_px AS (
         |  SELECT doc_id, w, h, x, unnest(range(1, h - 1)) AS y FROM xs),
         |grad AS (
         |  SELECT doc_id, w, h, x, y,
         |    abs($gx) + abs($gy) AS mag
         |  FROM inner_px)
         |SELECT dims.doc_id, dims.w AS width, dims.h AS height,
         |  CAST(COALESCE(sum(mag), 0) AS BIGINT) AS edge_sum,
         |  CAST(COALESCE(count(*) FILTER (mag >= 128), 0) AS BIGINT)
         |    AS n_strong,
         |  CAST(COALESCE(sum((x * 7 + y * 13 + 1) * mag), 0) AS BIGINT)
         |    AS checksum
         |FROM dims LEFT JOIN grad ON grad.doc_id = dims.doc_id
         |GROUP BY 1, 2, 3 ORDER BY dims.doc_id""".stripMargin
    },
  )
}
