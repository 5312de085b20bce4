package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BpeLearn

/** Round-7 additions, batch 74 (SURVEY.md §2.4) — tokenizer learning:
  *
  *  - t58: BPE pair statistics, round 0 — the corpus-wide
  *    frequency-weighted adjacent-character-pair table the first merge
  *    of byte-pair-encoding vocabulary learning is chosen from. The
  *    corpus folds to a distinct-word frequency table first (the only
  *    corpus-sized aggregation; 10^9 documents shrink to a few 10^6
  *    vocab rows before any per-character work), then explodes each
  *    word once into its adjacent pairs, weighted by word frequency —
  *    two map-side-combinable aggregations, no iteration. Words are
  *    `[a-z]+` runs of the RAW text (no lowercasing: Java and utf8proc
  *    disagree on exotic case foldings, and the pair table's semantics
  *    don't need it).
  *  - t60: BPE round 1 — [[graft.operators.BpeLearn]] learns the top
  *    merge (one collected argmax scalar — the per-round driver
  *    traffic), applies it to every word with the row-local greedy
  *    `aggregate` fold, and re-counts pairs over the merged tokens.
  *    The oracle replays the merge with the placeholder-replace device
  *    (replace() is left-to-right non-overlapping in both engines —
  *    exactly BPE's application order), so the hash match proves the
  *    distributed fold implements the textbook merge step.
  *  - t62: FOUR full BPE learning rounds, hash-matched end to end —
  *    the strongest tokenizer-learning contract in the registry. The
  *    engine runs [[graft.operators.BpeLearn]] for 4 rounds; the
  *    oracle REPLAYS THE WHOLE LEARNER in SQL — per round, pair counts
  *    over placeholder-encoded words, the decoded argmax (tie-broken
  *    on decoded token text exactly like the engine), and the merge
  *    application via replace() with a fresh chr(j) placeholder; each
  *    round's decode map is a generated CASE over all previous rounds'
  *    scalar subqueries. A hash match therefore proves the distributed
  *    iteration ≡ the sequential algorithm for the full trajectory:
  *    argmax choice, tie-breaks, and greedy application, four times
  *    composed.
  *  - d59: Fellegi–Sunter probabilistic record linkage — the classic
  *    m/u-probability match scorer over blocked candidate pairs. Two
  *    deterministic "noisy" views of customer (names, balances and a
  *    pseudo-SSN each corrupted on disjoint key residues) are joined
  *    inside (nation, segment) blocks — a key-partitioned shuffle, no
  *    cross join — and every pair's agreement vector maps to a summed
  *    integer milli-log2-odds score and a match/possible/nonmatch
  *    decision. Constant integer weights keep both engines bit-exact;
  *    the output is the per-pattern contingency table with a
  *    true-match audit column (diagonal pairs), i.e. exactly the table
  *    a linkage calibration run reads.
  *  - m30: REAL nearest-neighbor image resize — planted PNGs decode
  *    through ImageIO and resample to a fixed 5x4 grid with the
  *    floor-mapped kernel in
  *    [[graft.mm.Multimodal.resizeNearestFromImage]]; the oracle
  *    recomputes the position-weighted checksum of the resized raster
  *    from the pixel formula alone, so the hash match proves the
  *    resize sampled true source pixels at true positions (the m27
  *    planted-fixture codec device).
  */
object TextOps74 {
  import Tables.{centsLong, t, wordCounts}

  // Fellegi–Sunter parameters: milli-log2(m/u) agreement/disagreement
  // weights per field plus the upper decision threshold — constants of
  // the model, mirrored literally in the oracle
  private val WNameA = 9892L;  private val WNameD = -4322L
  private val WSsnA = 9937L;   private val WSsnD = -5638L
  private val WBalA = 6492L;   private val WBalD = -3170L
  private val MatchThr = 12000L

  private val RszDocs = 36
  private val RszW = 5
  private val RszH = 4

  /** m30's planted pixel formula — the single source of truth both
    * engines derive from.
    */
  private def rszDims(id: Long): (Int, Int) =
    ((id % 11 + 5).toInt, (id % 6 + 4).toInt)
  private def rszPx(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 29 + x * 11 + y * 7) % 256).toInt,
      ((id * 19 + x * 13 + y * 5) % 256).toInt,
      ((id * 7 + x * 3 + y * 17) % 256).toInt)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t58_bpe_pair_stats" -> ((spark, dir) => {
      val words = wordCounts(spark, dir)
        .filter(length(col("w")) >= 2)
      words
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, length(w) - 1)," +
            " i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("pair").asc)
        .limit(20)
    }),

    "t60_bpe_round1" -> ((spark, dir) => {
      val (merges, st1) = BpeLearn.learn(wordCounts(spark, dir), 1)
      val m = merges.head
      BpeLearn.pairCounts(st1)
        .select(concat_ws("+", col("l"), col("r")).as("pair"),
          col("total"))
        .withColumn("merged_l", lit(m.left))
        .withColumn("merged_r", lit(m.right))
        .orderBy(col("total").desc, col("pair").asc)
        .limit(15)
    }),

    "t62_bpe_learn4" -> ((spark, dir) => {
      import spark.implicits._
      val (merges, _) = BpeLearn.learn(wordCounts(spark, dir), 4)
      merges.map(m => (m.round, m.left, m.right, m.count))
        .toDF("r_no", "merge_l", "merge_r", "total")
        .orderBy("r_no")
    }),

    "d59_fellegi_sunter" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
      val a = cust.select(col("c_custkey").as("ak"),
        col("c_name").as("an"),
        centsLong(col("c_acctbal")).as("ab"),
        expr("c_custkey * 7919 % 1000000").as("as_"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("mk"))
      val b = cust.select(col("c_custkey").as("bk"),
        when(col("c_custkey") % 7 === 0, concat(col("c_name"), lit("x")))
          .otherwise(col("c_name")).as("bn"),
        (centsLong(col("c_acctbal")) +
          when(col("c_custkey") % 13 === 0, 1L).otherwise(0L)).as("bb"),
        (expr("c_custkey * 7919 % 1000000") +
          when(col("c_custkey") % 17 === 0, 1L).otherwise(0L)).as("bs"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("mk"))
      a.join(b, Seq("nk", "mk")) // blocked candidate pairs
        .select(
          (col("an") === col("bn")).cast("int").as("name_eq"),
          (col("as_") === col("bs")).cast("int").as("ssn_eq"),
          (col("ab") === col("bb")).cast("int").as("bal_eq"),
          (col("ak") === col("bk")).cast("long").as("tr"))
        .withColumn("score",
          col("name_eq") * WNameA + (lit(1) - col("name_eq")) * WNameD +
            col("ssn_eq") * WSsnA + (lit(1) - col("ssn_eq")) * WSsnD +
            col("bal_eq") * WBalA + (lit(1) - col("bal_eq")) * WBalD)
        .groupBy("name_eq", "ssn_eq", "bal_eq", "score")
        .agg(count(lit(1)).as("n_pairs"), sum(col("tr")).as("n_true"))
        .withColumn("decision",
          when(col("score") >= MatchThr, "match")
            .when(col("score") >= 0, "possible")
            .otherwise("nonmatch"))
        .select(col("name_eq"), col("ssn_eq"), col("bal_eq"),
          col("score").cast("long").as("score"), col("decision"),
          col("n_pairs"), col("n_true"))
        .orderBy(col("score").desc, col("name_eq"), col("ssn_eq"),
          col("bal_eq"))
    }),

    "m30_image_resize" -> ((spark, dir) => {
      import spark.implicits._
      val base = Tables.freshFwBase("graft_m30", dir)
      val ids = t(spark, dir, "documents")
        .filter(col("doc_id") < RszDocs)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val (w, h) = rszDims(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = rszPx(id, x, y)
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
          // real decode + nearest-neighbor resample, executor-side
          val (w, h, checksum, sum0) = graft.mm.Multimodal
            .resizeNearestFromImage(bytes, RszW, RszH)
          (id, w.toLong, h.toLong, checksum, sum0)
        })
        .toDF("doc_id", "width", "height", "checksum", "sum_r")
        .orderBy("doc_id")
    }),
  )

  /** t62's oracle: the whole learner replayed in SQL. Round j counts
    * pairs over the placeholder-encoded vocabulary, picks the argmax
    * with ties broken on DECODED token text (matching the engine), and
    * applies the merge as replace(m, c1||c2, chr(j)); the decode map
    * for round j is a CASE over rounds 1..j's scalar subqueries.
    * Generated by the same loop structure the engine runs.
    */
  private def bpeLearnSql(rounds: Int): String = {
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
         |t$j AS (
         |  SELECT c1, c2, ${dec(j - 1, "c1")} AS dl,
         |    ${dec(j - 1, "c2")} AS dr, total
         |  FROM pc$j
         |  ORDER BY total DESC, dl, dr LIMIT 1),
         |wc$j AS (
         |  SELECT replace(m, (SELECT c1 || c2 FROM t$j), chr($j)) AS m,
         |    cnt
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to rounds).map(j =>
      s"SELECT $j AS r_no, dl AS merge_l, dr AS merge_r," +
        s" CAST(total AS BIGINT) AS total FROM t$j")
      .mkString("\nUNION ALL\n")
    s"""WITH w0 AS (
       |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
       |  FROM documents),
       |wc0 AS (SELECT w AS m, count(*) AS cnt FROM w0 GROUP BY 1),
       |$roundCtes
       |$finals
       |ORDER BY r_no""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "t62_bpe_learn4" -> bpeLearnSql(4),

    "t58_bpe_pair_stats" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
        |  FROM documents),
        |wc AS (
        |  SELECT w, count(*) AS cnt FROM w
        |  WHERE length(w) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc)
        |SELECT substring(w, CAST(i AS INTEGER), 2) AS pair,
        |  CAST(sum(cnt) AS BIGINT) AS total
        |FROM p GROUP BY 1
        |ORDER BY total DESC, pair LIMIT 20""".stripMargin,

    // the merge is applied with replace(w, l||r, chr(1)): left-to-right
    // non-overlapping, exactly the greedy fold's order; chr(1) can't
    // appear in an [a-z]+ word
    "t60_bpe_round1" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
        |p0 AS (
        |  SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc
        |  WHERE length(w) >= 2),
        |pc0 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 1) AS l,
        |    substring(w, CAST(i + 1 AS INTEGER), 1) AS r,
        |    sum(cnt) AS total
        |  FROM p0 GROUP BY 1, 2),
        |top1 AS (SELECT l, r FROM pc0
        |  ORDER BY total DESC, l, r LIMIT 1),
        |mk AS (
        |  SELECT replace(w, (SELECT l || r FROM top1), chr(1)) AS m,
        |    cnt
        |  FROM wc),
        |t1 AS (
        |  SELECT m, cnt, unnest(range(1, length(m))) AS i FROM mk
        |  WHERE length(m) >= 2),
        |pc1 AS (
        |  SELECT
        |    CASE WHEN substring(m, CAST(i AS INTEGER), 1) = chr(1)
        |      THEN (SELECT l || r FROM top1)
        |      ELSE substring(m, CAST(i AS INTEGER), 1) END AS l,
        |    CASE WHEN substring(m, CAST(i + 1 AS INTEGER), 1) = chr(1)
        |      THEN (SELECT l || r FROM top1)
        |      ELSE substring(m, CAST(i + 1 AS INTEGER), 1) END AS r,
        |    sum(cnt) AS total
        |  FROM t1 GROUP BY 1, 2)
        |SELECT l || '+' || r AS pair, CAST(total AS BIGINT) AS total,
        |  (SELECT l FROM top1) AS merged_l,
        |  (SELECT r FROM top1) AS merged_r
        |FROM pc1 ORDER BY total DESC, pair LIMIT 15""".stripMargin,

    "d59_fellegi_sunter" ->
      s"""WITH a AS (
         |  SELECT c_custkey AS ak, c_name AS an,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS ab,
         |    c_custkey * 7919 % 1000000 AS as_,
         |    c_nationkey AS nk, c_mktsegment AS mk
         |  FROM customer),
         |b AS (
         |  SELECT c_custkey AS bk,
         |    CASE WHEN c_custkey % 7 = 0 THEN c_name || 'x'
         |      ELSE c_name END AS bn,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      + CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END AS bb,
         |    c_custkey * 7919 % 1000000
         |      + CASE WHEN c_custkey % 17 = 0 THEN 1 ELSE 0 END AS bs,
         |    c_nationkey AS nk, c_mktsegment AS mk
         |  FROM customer),
         |p AS (
         |  SELECT CASE WHEN an = bn THEN 1 ELSE 0 END AS name_eq,
         |    CASE WHEN as_ = bs THEN 1 ELSE 0 END AS ssn_eq,
         |    CASE WHEN ab = bb THEN 1 ELSE 0 END AS bal_eq,
         |    CASE WHEN ak = bk THEN 1 ELSE 0 END AS tr
         |  FROM a JOIN b ON a.nk = b.nk AND a.mk = b.mk),
         |s AS (
         |  SELECT name_eq, ssn_eq, bal_eq, tr,
         |    name_eq * $WNameA + (1 - name_eq) * ($WNameD)
         |      + ssn_eq * $WSsnA + (1 - ssn_eq) * ($WSsnD)
         |      + bal_eq * $WBalA + (1 - bal_eq) * ($WBalD) AS score
         |  FROM p)
         |SELECT name_eq, ssn_eq, bal_eq, CAST(score AS BIGINT) AS score,
         |  CASE WHEN score >= $MatchThr THEN 'match'
         |    WHEN score >= 0 THEN 'possible'
         |    ELSE 'nonmatch' END AS decision,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(tr) AS BIGINT) AS n_true
         |FROM s GROUP BY 1, 2, 3, 4, 5
         |ORDER BY score DESC, name_eq, ssn_eq, bal_eq""".stripMargin,

    // the resized raster replayed from the planted formula: source
    // pixel (x2*w//5, y2*h//4), positional weight x2*31 + y2*17 + 1
    "m30_image_resize" ->
      s"""WITH d AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id < $RszDocs),
         |dims AS (
         |  SELECT doc_id, CAST(doc_id % 11 + 5 AS BIGINT) AS w,
         |    CAST(doc_id % 6 + 4 AS BIGINT) AS h
         |  FROM d),
         |xs AS (
         |  SELECT doc_id, w, h, unnest(range($RszW)) AS x2 FROM dims),
         |cells AS (
         |  SELECT doc_id, w, h, x2, unnest(range($RszH)) AS y2 FROM xs),
         |px AS (
         |  SELECT doc_id, w, h, x2, y2,
         |    x2 * w // $RszW AS sx, y2 * h // $RszH AS sy
         |  FROM cells),
         |v AS (
         |  SELECT doc_id, w, h, x2, y2,
         |    (doc_id * 29 + sx * 11 + sy * 7) % 256 AS r,
         |    (doc_id * 19 + sx * 13 + sy * 5) % 256 AS g,
         |    (doc_id * 7 + sx * 3 + sy * 17) % 256 AS b
         |  FROM px)
         |SELECT doc_id, w AS width, h AS height,
         |  CAST(sum((x2 * 31 + y2 * 17 + 1) * (r + 2 * g + 3 * b))
         |    AS BIGINT) AS checksum,
         |  CAST(sum(r) AS BIGINT) AS sum_r
         |FROM v GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
  )
}
