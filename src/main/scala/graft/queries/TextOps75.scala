package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.BpeLearn

/** Round-7 additions, batch 75 (SURVEY.md §2.4):
  *
  *  - t63: BPE ENCODE — the apply half of the tokenizer story. The
  *    engine learns six merges with [[graft.operators.BpeLearn]] (t62
  *    proved four learning rounds hash-identical to the sequential
  *    algorithm; this runs the same loop two rounds further) and then
  *    reads the ENCODED corpus off the final state: total token count,
  *    per-token frequencies of the learned vocabulary, and the
  *    chars-per-token compression the merges bought. The oracle replays
  *    the whole learner AND the encoding in SQL (placeholder-replace
  *    rounds, then per-character decode of the final encoded
  *    vocabulary), so the hash match proves the engine's token counts
  *    are the sequential tokenizer's token counts — the number an LLM
  *    data pipeline budgets training runs with.
  *  - q357: Gram matrix Aᵀ·A over the embedding corpus via
  *    [[graft.operators.GramAgg]] — one flat 2080-long buffer per map
  *    partition instead of a d²-explode per row (the shuffle carries
  *    buffers, not rows; see the operator's scaladoc for the 100 TB
  *    arithmetic). Micro-unit quantization (floor(x·1000), exact IEEE
  *    on both engines) keeps every cell an exact integer the oracle
  *    recomputes from an index-pair grid.
  *  - q358: t-closeness audit — the anonymization metric one step past
  *    q105's k-anonymity: for each (nation, segment) quasi-identifier
  *    group, the earth-mover's distance between the group's ordered
  *    balance-level distribution and the global one. EMD over an
  *    ordered attribute is the L1 gap of the two CDFs; scaling by
  *    n_g·N keeps it an exact integer (Σ_l |cum_g·N − cum_G·n_g|).
  *    The global CDF comes from a broadcast 11-row self-join, not a
  *    global window; the per-group CDF is a key-partitioned window.
  *  - m31: histogram equalization over REAL decoded pixels — the
  *    contrast-stretch remap every image-preprocessing stack runs,
  *    integer-exact end to end: 16-bin luminance histogram, CDF remap
  *    `(cdf − cdfmin)·255 div (npx − cdfmin)`, positional checksum of
  *    the equalized raster. Planted-PNG fixture → ImageIO decode
  *    distributed → per-image arithmetic (the m27 device); the oracle
  *    replays every pixel from the planted formula through the same
  *    integer CDF math.
  *  - d60: record linkage with FULL Damerau–Levenshtein — the
  *    [[graft.functions.DamerauLevenshtein]] codegen expression (one
  *    static-call into the Lowrance–Wagner DP, inside the whole-stage
  *    span) scores (nation, segment)-blocked pairs of clean vs
  *    corrupted names, where the planted corruptions include the
  *    adjacent TRANSPOSITION that plain Levenshtein (d7) double-counts.
  *    Output is the distance histogram with a true-match audit column;
  *    the oracle is DuckDB's independent damerau_levenshtein — two
  *    unrelated implementations agreeing on every one of ~10⁴–10⁶
  *    blocked pairs.
  */
object TextOps75 {
  import Tables.{t, wordCounts}

  private val GramDim = 64
  private val TLevels = 11 // balance levels 0..10 after the +100000 shift
  private val EqDocs = 36

  /** m31's planted pixel formula — the single source of truth both
    * engines derive from.
    */
  private def eqDims(id: Long): (Int, Int) =
    ((id % 12 + 5).toInt, (id % 8 + 4).toInt)
  private def eqPx(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 43 + x * 11 + y * 5) % 256).toInt,
      ((id * 29 + x * 7 + y * 13) % 256).toInt,
      ((id * 11 + x * 17 + y * 3) % 256).toInt)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t63_bpe_encode" -> ((spark, dir) => {
      val (_, st) = BpeLearn.learn(wordCounts(spark, dir), 6)
      // st is the ENCODED vocabulary (w, cnt, toks): corpus-wide token
      // accounting is three exact-integer sums over it, and the
      // token-frequency table is one vocab-sized aggregation.
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

    "q357_gram_matrix" -> ((spark, dir) => {
      // micro-unit quantization: float→double is exact, ·1000.0 is one
      // IEEE multiply with identical bits in both engines, floor is
      // exact on any double — zero rounding-boundary parity risk
      val quant = expr("transform(embedding, " +
        "x -> cast(floor(cast(x as double) * 1000.0) as bigint))")
      val g = t(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === GramDim)
        .select(quant.as("qv"))
        .agg(graft.operators.GramMatrix.gram(col("qv"), GramDim).as("g"))
      // unflatten the 2080-cell triangle through a broadcast index map
      val idx = spark.range(GramDim)
        .select(col("id").cast("int").as("i"))
        .select(col("i"),
          explode(expr(s"sequence(i, ${GramDim - 1})")).as("j"))
        .select(col("i"), col("j"),
          expr(s"i * $GramDim - i * (i - 1) div 2 + (j - i)").as("pos"))
      g.select(posexplode(col("g")).as(Seq("pos", "dot")))
        .join(broadcast(idx), "pos")
        .select(col("i").cast("long").as("i"),
          col("j").cast("long").as("j"), col("dot"))
        .orderBy("i", "j")
    }),

    "q358_t_closeness" -> ((spark, dir) => {
      // ordered sensitive attribute: $1000 balance levels, shifted
      // non-negative so div is floor in both engines
      val lv = t(spark, dir, "customer").select(
        col("c_nationkey").as("nk"), col("c_mktsegment").as("mk"),
        expr("(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)" +
          " + 100000) div 100000").as("lvl"))
      val groups = lv.groupBy("nk", "mk").agg(count(lit(1)).as("n_g"))
      val levels = spark.range(TLevels).select(col("id").as("lvl"))
      val counts = lv.groupBy("nk", "mk", "lvl")
        .agg(count(lit(1)).as("c"))
      val gcnt = lv.groupBy("lvl").agg(count(lit(1)).as("gc"))
      // global CDF over 11 fixed levels: broadcast self-join, not a
      // single-task global window
      val gcum = levels.as("l1")
        .join(broadcast(gcnt).as("g2"), col("g2.lvl") <= col("l1.lvl"),
          "left")
        .groupBy(col("l1.lvl"))
        .agg(coalesce(sum(col("g2.gc")), lit(0L)).as("gC"))
        .select(col("lvl"), col("gC"))
      val nTotal = lv.agg(count(lit(1)).as("n_total"))
      val wcum = Window.partitionBy("nk", "mk").orderBy("lvl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      groups.crossJoin(broadcast(levels))
        .join(counts, Seq("nk", "mk", "lvl"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("cumc", sum(col("c")).over(wcum))
        .join(broadcast(gcum), "lvl")
        .crossJoin(broadcast(nTotal))
        .withColumn("term",
          abs(col("cumc") * col("n_total") - col("gC") * col("n_g")))
        .groupBy("nk", "mk", "n_g", "n_total")
        .agg(sum(col("term")).as("emd_scaled"))
        .select(col("nk"), col("mk"), col("n_g"), col("n_total"),
          col("emd_scaled"))
        .orderBy("nk", "mk")
    }),

    "m31_hist_equalize" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m31", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < EqDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val (w, h) = eqDims(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = eqPx(id, x, y)
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
          // real decode + integer CDF equalization, executor-side
          val (w, h, usedBins, checksum) =
            graft.mm.Multimodal.histEqualizeFromImage(bytes)
          (id, w.toLong, h.toLong, usedBins, checksum)
        })
        .toDF("doc_id", "width", "height", "used_bins", "checksum")
        .orderBy("doc_id")
    }),

    "d60_damerau_linkage" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
      val a = cust.select(col("c_custkey").as("ak"),
        col("c_name").as("an"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("mk"))
      // planted corruptions on disjoint key residues; %4==0 is the
      // adjacent transposition full-DL counts as ONE edit
      val b = cust.select(col("c_custkey").as("bk"),
        when(col("c_custkey") % 4 === 0,
          concat(expr("substring(c_name, 1, 2)"),
            expr("substring(c_name, 4, 1)"),
            expr("substring(c_name, 3, 1)"),
            expr("substring(c_name, 5, 100)")))
          .when(col("c_custkey") % 4 === 1,
            concat(expr("substring(c_name, 1, 4)"),
              expr("substring(c_name, 6, 100)")))
          .when(col("c_custkey") % 4 === 2,
            concat(expr("substring(c_name, 1, 5)"), lit("z"),
              expr("substring(c_name, 7, 100)")))
          .otherwise(col("c_name")).as("bn"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("mk"))
      a.join(b, Seq("nk", "mk")) // blocked candidate pairs
        .select(graft.functions.StringDistance
          .damerauLevenshtein(col("an"), col("bn")).as("dist"),
          (col("ak") === col("bk")).cast("long").as("tr"))
        .groupBy("dist")
        .agg(count(lit(1)).as("n_pairs"), sum(col("tr")).as("n_true"))
        .select(col("dist").cast("long").as("dist"), col("n_pairs"),
          col("n_true"))
        .orderBy("dist")
    }),
  )

  /** t63's oracle: the t62 learner replay extended two rounds and then
    * the ENCODING read back off the final placeholder state — token
    * counts are character counts of the encoded words, the decoded
    * token-frequency table comes from a per-character decode CASE over
    * all six merge rounds' scalar subqueries. AS MATERIALIZED on each
    * `t$j` (read by every later decode CASE) and `wc$j` (read by
    * `p${j+1}` and `wc${j+1}`) is load-bearing: DuckDB inlines a CTE at
    * each reference, so the unmaterialized chain re-ran every earlier
    * round (sf0.001: 647 s, against 0.06 s materialized).
    */
  private def bpeEncodeSql(rounds: Int): String = {
    def dec(j: Int, c: String): String =
      if (j == 0) c
      else {
        val cases = (1 to j).map(i =>
          s"WHEN $c = chr($i) THEN (SELECT dl || dr FROM t$i)")
          .mkString(" ")
        s"(CASE $cases ELSE $c END)"
      }
    val roundCtes = (1 to rounds).map { j =>
      val prev = if (j == 1) "wc0" else s"wc${j - 1}"
      s"""p$j AS (
         |  SELECT m, cnt, unnest(range(1, length(m))) AS i FROM $prev
         |  WHERE length(m) >= 2),
         |pc$j AS (
         |  SELECT substring(m, CAST(i AS INTEGER), 1) AS c1,
         |    substring(m, CAST(i + 1 AS INTEGER), 1) AS c2,
         |    sum(cnt) AS total
         |  FROM p$j GROUP BY 1, 2),
         |t$j AS MATERIALIZED (
         |  SELECT c1, c2, ${dec(j - 1, "c1")} AS dl,
         |    ${dec(j - 1, "c2")} AS dr, total
         |  FROM pc$j
         |  ORDER BY total DESC, dl, dr LIMIT 1),
         |wc$j AS MATERIALIZED (
         |  SELECT w, replace(m, (SELECT c1 || c2 FROM t$j), chr($j)) AS m,
         |    cnt
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
       |  FROM documents),
       |wc0 AS MATERIALIZED (
       |  SELECT w, w AS m, count(*) AS cnt FROM w0 GROUP BY 1, 2),
       |$roundCtes,
       |tok AS (
       |  SELECT m, cnt, unnest(range(1, length(m) + 1)) AS i
       |  FROM wc$rounds),
       |occ AS (
       |  SELECT ${dec(rounds, "substring(m, CAST(i AS INTEGER), 1)")}
       |      AS token,
       |    sum(cnt) AS occurrences
       |  FROM tok GROUP BY 1
       |  ORDER BY occurrences DESC, token LIMIT 15),
       |corpus AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS corpus_words,
       |    CAST(sum(cnt * length(m)) AS BIGINT) AS corpus_tokens,
       |    CAST(sum(cnt * length(w)) AS BIGINT) AS corpus_chars
       |  FROM wc$rounds)
       |SELECT token, CAST(occurrences AS BIGINT) AS occurrences,
       |  CAST(length(token) AS BIGINT) AS tok_len,
       |  corpus_words, corpus_tokens, corpus_chars
       |FROM occ, corpus
       |ORDER BY occurrences DESC, token""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "t63_bpe_encode" -> bpeEncodeSql(6),

    "q357_gram_matrix" ->
      s"""WITH e AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = $GramDim),
         |ij AS (
         |  SELECT i, unnest(range(i, $GramDim)) AS j
         |  FROM (SELECT unnest(range($GramDim)) AS i)),
         |v AS (
         |  SELECT i, j,
         |    q[CAST(i + 1 AS INTEGER)] * q[CAST(j + 1 AS INTEGER)] AS p
         |  FROM e, ij)
         |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |  CAST(sum(p) AS BIGINT) AS dot
         |FROM v GROUP BY 1, 2 ORDER BY i, j""".stripMargin,

    "q358_t_closeness" ->
      s"""WITH lv AS (
         |  SELECT c_nationkey AS nk, c_mktsegment AS mk,
         |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      + 100000) // 100000 AS lvl
         |  FROM customer),
         |grp AS (SELECT nk, mk, count(*) AS n_g FROM lv GROUP BY 1, 2),
         |lvls AS (SELECT unnest(range($TLevels)) AS lvl),
         |cnts AS (SELECT nk, mk, lvl, count(*) AS c FROM lv
         |  GROUP BY 1, 2, 3),
         |g AS (SELECT lvl, count(*) AS gc FROM lv GROUP BY 1),
         |gcum AS (
         |  SELECT l.lvl, COALESCE(sum(g.gc), 0) AS gC
         |  FROM lvls l LEFT JOIN g ON g.lvl <= l.lvl GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM lv),
         |grid AS (
         |  SELECT grp.nk, grp.mk, grp.n_g, l.lvl, COALESCE(c.c, 0) AS c
         |  FROM grp CROSS JOIN lvls l
         |  LEFT JOIN cnts c
         |    ON c.nk = grp.nk AND c.mk = grp.mk AND c.lvl = l.lvl),
         |cum AS (
         |  SELECT nk, mk, n_g, lvl,
         |    sum(c) OVER (PARTITION BY nk, mk ORDER BY lvl
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
         |  FROM grid)
         |SELECT cum.nk, cum.mk, CAST(cum.n_g AS BIGINT) AS n_g,
         |  CAST(t.n_total AS BIGINT) AS n_total,
         |  CAST(sum(abs(cumc * t.n_total - gcum.gC * cum.n_g))
         |    AS BIGINT) AS emd_scaled
         |FROM cum JOIN gcum ON gcum.lvl = cum.lvl CROSS JOIN tot t
         |GROUP BY 1, 2, 3, 4
         |ORDER BY nk, mk""".stripMargin,

    // every pixel replayed from the planted formula through the same
    // integer histogram-CDF arithmetic the executor-side decode runs
    "m31_hist_equalize" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents WHERE doc_id < $EqDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 12 + 5 AS BIGINT) AS w,
         |    CAST(doc_id % 8 + 4 AS BIGINT) AS h
         |  FROM d),
         |xs AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM dims),
         |px AS (SELECT doc_id, w, h, x, unnest(range(h)) AS y FROM xs),
         |v AS (
         |  SELECT doc_id, w, h, x, y,
         |    (doc_id * 43 + x * 11 + y * 5) % 256 AS r,
         |    (doc_id * 29 + x * 7 + y * 13) % 256 AS g,
         |    (doc_id * 11 + x * 17 + y * 3) % 256 AS b
         |  FROM px),
         |gr AS (
         |  SELECT doc_id, w, h, x, y,
         |    ((r + 2 * g + b) // 4) // 16 AS bin
         |  FROM v),
         |hist AS (SELECT doc_id, bin, count(*) AS cnt FROM gr
         |  GROUP BY 1, 2),
         |cdf AS (
         |  SELECT doc_id, bin, cnt,
         |    sum(cnt) OVER (PARTITION BY doc_id ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
         |  FROM hist),
         |mn AS (SELECT doc_id, min(cdf) AS cdfmin FROM cdf
         |  WHERE cnt > 0 GROUP BY 1),
         |ub AS (SELECT doc_id, count(*) AS used_bins FROM hist
         |  WHERE cnt > 0 GROUP BY 1),
         |eq AS (
         |  SELECT gr.doc_id, gr.w, gr.h, gr.x, gr.y,
         |    CASE WHEN gr.w * gr.h > mn.cdfmin
         |      THEN (cdf.cdf - mn.cdfmin) * 255 // (gr.w * gr.h - mn.cdfmin)
         |      ELSE 0 END AS eqv
         |  FROM gr
         |  JOIN cdf ON cdf.doc_id = gr.doc_id AND cdf.bin = gr.bin
         |  JOIN mn ON mn.doc_id = gr.doc_id)
         |SELECT eq.doc_id, max(eq.w) AS width, max(eq.h) AS height,
         |  CAST(max(ub.used_bins) AS BIGINT) AS used_bins,
         |  CAST(sum((eq.x * 7 + eq.y * 13 + 1) * eq.eqv) AS BIGINT)
         |    AS checksum
         |FROM eq JOIN ub ON ub.doc_id = eq.doc_id
         |GROUP BY 1 ORDER BY eq.doc_id""".stripMargin,

    // DuckDB's independent damerau_levenshtein is the oracle — two
    // unrelated full-DL implementations must agree on every pair
    "d60_damerau_linkage" ->
      """WITH a AS (
        |  SELECT c_custkey AS ak, c_name AS an,
        |    c_nationkey AS nk, c_mktsegment AS mk
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey AS bk,
        |    CASE WHEN c_custkey % 4 = 0 THEN
        |        substring(c_name, 1, 2) || substring(c_name, 4, 1)
        |          || substring(c_name, 3, 1) || substring(c_name, 5, 100)
        |      WHEN c_custkey % 4 = 1 THEN
        |        substring(c_name, 1, 4) || substring(c_name, 6, 100)
        |      WHEN c_custkey % 4 = 2 THEN
        |        substring(c_name, 1, 5) || 'z' || substring(c_name, 7, 100)
        |      ELSE c_name END AS bn,
        |    c_nationkey AS nk, c_mktsegment AS mk
        |  FROM customer),
        |p AS (
        |  SELECT damerau_levenshtein(an, bn) AS dist,
        |    CASE WHEN ak = bk THEN 1 ELSE 0 END AS tr
        |  FROM a JOIN b ON a.nk = b.nk AND a.mk = b.mk)
        |SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(tr) AS BIGINT) AS n_true
        |FROM p GROUP BY 1 ORDER BY dist""".stripMargin,
  )
}
