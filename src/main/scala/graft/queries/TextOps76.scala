package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions, batch 76 (SURVEY.md §2.4) — tokenizer apply,
  * part 2:
  *
  *  - t64: WordPiece-style GREEDY LONGEST-MATCH encoding — the other
  *    big subword-tokenizer family next to BPE (t16/t58/t60/t62 learn,
  *    t63 applies). The vocabulary is derived deterministically from
  *    the corpus itself (all 26 letters + the 15 highest-frequency
  *    bigrams + the 10 highest-frequency trigrams, position-weighted,
  *    ties broken lexicographically), then every DISTINCT word is
  *    encoded by the textbook scan: at each position try the longest
  *    vocab match (3, then 2, then 1 — single letters guarantee
  *    termination). The scan is a row-local `aggregate` fold over the
  *    word's positions whose accumulator carries the next unconsumed
  *    position — variable-advance greedy matching expressed as a
  *    constant-step fold, whole-stage-codegen'd, zero shuffle beyond
  *    the vocab-sized word table (the BpeLearn discipline: a 10⁹-doc
  *    corpus folds to ~10⁶ distinct words before any per-character
  *    work). The two 25-entry gram lists are collected once and
  *    inlined as literals (the AnnLsh plane-literal device). The
  *    oracle replays the SAME greedy scan as a recursive CTE stepping
  *    (word, pos) → (word, pos + matchlen), so the hash match proves
  *    the fold implements the sequential tokenizer: match lengths,
  *    tie-breaks, token identities, and corpus token totals.
  *  - m32: single-band (grayscale) rasters through the REAL ImageIO
  *    codec — planted TYPE_BYTE_GRAY PNGs decode distributed with
  *    channels=1 and exact gray sums, the raster-type-robustness
  *    complement to m27's 3-band proof (same planted-fixture device).
  */
object TextOps76 {
  import Tables.{t, wordCounts}

  private val GrayDocs = 30

  /** m32's planted grayscale formula — single source of truth. */
  private def grayDims(id: Long): (Int, Int) =
    ((id % 10 + 6).toInt, (id % 9 + 4).toInt)
  private def grayPx(id: Long, x: Int, y: Int): Int =
    ((id * 53 + x * 9 + y * 31) % 256).toInt

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t64_wordpiece_encode" -> ((spark, dir) => {
      // the corpus tokenize+count pipeline feeds THREE consumers (two
      // vocab passes + the encode scan); persist the vocab-bounded
      // count frame so the corpus regexp/explode/agg runs once
      val words = wordCounts(spark, dir).persist()
      // corpus-derived vocab: top-k n-grams by position-weighted
      // frequency; a constant-size collect (≤25 strings), inlined below
      def topGrams(n: Int, k: Int): Seq[String] = words
        .filter(length(col("w")) >= n)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(1, length(w) - ${n - 1})," +
            s" i -> substring(w, i, $n))")).as("g"))
        .groupBy("g").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("g").asc).limit(k)
        .collect().map(_.getString(0)).toSeq
      val v3 = topGrams(3, 10)
      val v2 = topGrams(2, 15)
      def lits(vs: Seq[String]): String =
        vs.map(s => s"'$s'").mkString("array(", ", ", ")")
      // greedy longest-match as a left fold: the accumulator's `p` is
      // the next unconsumed position; already-consumed positions pass
      // through untouched
      val encode = expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  named_struct('p', 1,
           |    'toks', cast(array() as array<string>)),
           |  (a, i) -> IF(i < a.p, a,
           |    IF(array_contains(${lits(v3)}, substring(w, i, 3)),
           |      named_struct('p', i + 3,
           |        'toks', concat(a.toks, array(substring(w, i, 3)))),
           |    IF(array_contains(${lits(v2)}, substring(w, i, 2)),
           |      named_struct('p', i + 2,
           |        'toks', concat(a.toks, array(substring(w, i, 2)))),
           |      named_struct('p', i + 1,
           |        'toks', concat(a.toks, array(substring(w, i, 1))))))),
           |  a -> a.toks)""".stripMargin)
      val st = words.withColumn("toks", encode)
      val corpus = st.agg(
        sum(col("cnt")).as("corpus_words"),
        sum(col("cnt") * size(col("toks")).cast("long"))
          .as("corpus_tokens"),
        sum(col("cnt") * length(col("w")).cast("long")).as("corpus_chars"))
      st.select(col("cnt"), explode(col("toks")).as("token"))
        .groupBy("token").agg(sum(col("cnt")).as("occurrences"))
        .orderBy(col("occurrences").desc, col("token").asc)
        .limit(15)
        .crossJoin(broadcast(corpus))
        .select(col("token"), col("occurrences"),
          length(col("token")).cast("long").as("tok_len"),
          col("corpus_words"), col("corpus_tokens"), col("corpus_chars"))
        .orderBy(col("occurrences").desc, col("token").asc)
    }),

    // single-band rasters through the REAL codec: planted
    // TYPE_BYTE_GRAY PNGs (samples written raw, no RGB->luma rounding)
    // decode distributed via ImageIoCodec, whose band loop must report
    // channels=1 and the exact gray sum — the raster-type-robustness
    // complement to m27's 3-band proof, replayed by the oracle from the
    // planted formula
    "m32_grayscale_decode" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m32", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < GrayDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val (w, h) = grayDims(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        for (y <- 0 until h; x <- 0 until w)
          raster.setSample(x, y, 0, grayPx(id, x, y))
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
          val p = graft.mm.Multimodal.ImageIoCodec.decode("image/png", bytes)
          (id, p.width.toLong, p.height.toLong, p.channels.toLong,
            p.features(0).toLong)
        })
        .toDF("doc_id", "width", "height", "channels", "sum_gray")
        .orderBy("doc_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // vocab CTEs mirror the engine's gram selection; the recursive
    // `step` CTE IS the sequential greedy scan (left joins give the
    // match length; depth is bounded by the longest word)
    "t64_wordpiece_encode" ->
      """WITH RECURSIVE w0 AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w0 GROUP BY 1),
        |p2 AS (
        |  SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc
        |  WHERE length(w) >= 2),
        |g2 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 2) AS g,
        |    sum(cnt) AS total
        |  FROM p2 GROUP BY 1 ORDER BY total DESC, g LIMIT 15),
        |p3 AS (
        |  SELECT w, cnt, unnest(range(1, length(w) - 1)) AS i FROM wc
        |  WHERE length(w) >= 3),
        |g3 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 3) AS g,
        |    sum(cnt) AS total
        |  FROM p3 GROUP BY 1 ORDER BY total DESC, g LIMIT 10),
        |step(w, cnt, pos, toks) AS (
        |  SELECT w, cnt, 1, '' FROM wc
        |  UNION ALL
        |  SELECT s.w, s.cnt,
        |    s.pos + CASE WHEN t3.g IS NOT NULL THEN 3
        |      WHEN t2.g IS NOT NULL THEN 2 ELSE 1 END,
        |    s.toks || '|' || CASE WHEN t3.g IS NOT NULL
        |        THEN substring(s.w, CAST(s.pos AS INTEGER), 3)
        |      WHEN t2.g IS NOT NULL
        |        THEN substring(s.w, CAST(s.pos AS INTEGER), 2)
        |      ELSE substring(s.w, CAST(s.pos AS INTEGER), 1) END
        |  FROM step s
        |  LEFT JOIN g3 t3
        |    ON t3.g = substring(s.w, CAST(s.pos AS INTEGER), 3)
        |  LEFT JOIN g2 t2
        |    ON t2.g = substring(s.w, CAST(s.pos AS INTEGER), 2)
        |  WHERE s.pos <= length(s.w)),
        |enc AS (
        |  SELECT w, cnt, toks FROM step WHERE pos > length(w)),
        |toktab AS (
        |  SELECT unnest(string_split(e.toks, '|')) AS token, e.cnt
        |  FROM enc e),
        |occ AS (
        |  SELECT token, sum(cnt) AS occurrences FROM toktab
        |  WHERE token <> '' GROUP BY 1
        |  ORDER BY occurrences DESC, token LIMIT 15),
        |corpus AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS corpus_words,
        |    CAST(sum(cnt * (length(toks)
        |      - length(replace(toks, '|', '')))) AS BIGINT)
        |      AS corpus_tokens,
        |    CAST(sum(cnt * length(w)) AS BIGINT) AS corpus_chars
        |  FROM enc)
        |SELECT token, CAST(occurrences AS BIGINT) AS occurrences,
        |  CAST(length(token) AS BIGINT) AS tok_len,
        |  corpus_words, corpus_tokens, corpus_chars
        |FROM occ, corpus
        |ORDER BY occurrences DESC, token""".stripMargin,

    "m32_grayscale_decode" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents WHERE doc_id < $GrayDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 10 + 6 AS BIGINT) AS w,
         |    CAST(doc_id % 9 + 4 AS BIGINT) AS h
         |  FROM d),
         |xs AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM dims),
         |px AS (SELECT doc_id, w, h, x, unnest(range(h)) AS y FROM xs)
         |SELECT doc_id, w AS width, h AS height,
         |  CAST(1 AS BIGINT) AS channels,
         |  CAST(sum((doc_id * 53 + x * 9 + y * 31) % 256) AS BIGINT)
         |    AS sum_gray
         |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
  )
}
