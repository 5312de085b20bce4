package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions, batch 77 (SURVEY.md §2.4) — tokenizer apply,
  * part 3:
  *
  *  - t65: UNIGRAM-LM (SentencePiece-style) VITERBI segmentation — the
  *    third subword-tokenizer family next to BPE (t63) and WordPiece
  *    (t64). Greedy scanners commit to the longest local match; the
  *    unigram model instead picks the segmentation MINIMIZING total
  *    piece cost, which needs true dynamic programming. Piece costs
  *    are exact integers — cost(p) = bitlen(T) − bitlen(F(p)), an
  *    integer ⌊log₂⌋ surrogate for −log p(piece) with zero
  *    float-rounding surface (`bin()` exists in both engines) — over a
  *    corpus-derived vocabulary: every single character (termination
  *    guarantee) + the 15 heaviest bigrams + the 10 heaviest trigrams,
  *    position-weighted like t64. The Viterbi recurrence best[i] =
  *    min(best[i−1]+c₁, best[i−2]+c₂, best[i−3]+c₃) runs as a
  *    row-local `aggregate` fold whose accumulator carries the last
  *    THREE DP cells (cost, tokens) — a bounded-window DP expressed as
  *    a constant-step fold, whole-stage-codegen'd, zero shuffle beyond
  *    the distinct-word table (the BpeLearn discipline). Ties break to
  *    fewer tokens via lexicographic struct sort, pinned in both
  *    engines. The oracle replays the SAME recurrence as a recursive
  *    CTE stepping (word, pos) with the three prior cells as columns,
  *    so the hash match proves the fold IS the sequential Viterbi:
  *    optimal costs, token counts, tie-breaks, and corpus totals.
  */
object TextOps77 {
  import Tables.{t, wordCounts}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t65_unigram_viterbi" -> ((spark, dir) => {
      val words = wordCounts(spark, dir)
      // position-weighted gram frequencies (t64's selection, plus the
      // totals the costs derive from); constant-size collects — ≤26
      // chars, 15 bigrams, 10 trigrams — inlined as map literals below
      def gramTotals(n: Int, k: Int): Seq[(String, Long)] = words
        .filter(length(col("w")) >= n)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(1, length(w) - ${n - 1})," +
            s" i -> substring(w, i, $n))")).as("g"))
        .groupBy("g").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("g").asc).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val v1 = gramTotals(1, 100) // all chars ([a-z] caps this at 26)
      val v2 = gramTotals(2, 15)
      val v3 = gramTotals(3, 10)
      val totalPos = words
        .agg(sum(col("cnt") * length(col("w")).cast("long")))
        .collect()(0).getLong(0)
      def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
      def costMap(vs: Seq[(String, Long)]): String =
        vs.map { case (g, f) =>
          s"'$g', ${bitlen(totalPos) - bitlen(f)}L"
        }.mkString("map(", ", ", ")")
      val (m1, m2, m3) = (costMap(v1), costMap(v2), costMap(v3))
      // the DP fold: b0/b1/b2 are the best (cost, tokens) after
      // consuming i / i-1 / i-2 characters; candidates beyond the
      // word start or outside the vocab get an unreachable sentinel;
      // array_sort's lexicographic struct order IS the tie-break
      // (min cost, then min tokens)
      val viterbi = expr(
        s"""aggregate(
           |  sequence(1, length(w)),
           |  named_struct(
           |    'b0', named_struct('c', 0L, 't', 0L),
           |    'b1', named_struct('c', 1000000000L, 't', 0L),
           |    'b2', named_struct('c', 1000000000L, 't', 0L)),
           |  (a, i) -> named_struct(
           |    'b0', element_at(array_sort(array(
           |      named_struct(
           |        'c', a.b0.c + try_element_at($m1, substring(w, i, 1)),
           |        't', a.b0.t + 1L),
           |      named_struct(
           |        'c', CASE WHEN i >= 2 AND try_element_at($m2,
           |            substring(w, i - 1, 2)) IS NOT NULL
           |          THEN a.b1.c + try_element_at($m2,
           |            substring(w, i - 1, 2))
           |          ELSE 2000000000L END,
           |        't', a.b1.t + 1L),
           |      named_struct(
           |        'c', CASE WHEN i >= 3 AND try_element_at($m3,
           |            substring(w, i - 2, 3)) IS NOT NULL
           |          THEN a.b2.c + try_element_at($m3,
           |            substring(w, i - 2, 3))
           |          ELSE 2000000000L END,
           |        't', a.b2.t + 1L))), 1),
           |    'b1', a.b0,
           |    'b2', a.b1),
           |  a -> a.b0)""".stripMargin)
      val st = words.withColumn("v", viterbi)
        .select(col("w"), col("cnt"),
          col("v.c").as("cost"), col("v.t").as("n_tokens"))
      val corpus = st.agg(
        sum(col("cnt")).as("corpus_words"),
        sum(col("cnt") * col("n_tokens")).as("corpus_tokens"),
        sum(col("cnt") * col("cost")).as("corpus_cost"))
      st.orderBy(col("cnt").desc, col("w").asc).limit(15)
        .crossJoin(broadcast(corpus))
        .select(col("w"), col("cnt"), col("cost"), col("n_tokens"),
          col("corpus_words"), col("corpus_tokens"), col("corpus_cost"))
        .orderBy(col("cnt").desc, col("w").asc)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the same vocabulary/cost derivation, then the recurrence as a
    // recursive CTE whose state carries the three prior DP cells;
    // list_sort on structs replays the engine's tie-break exactly
    "t65_unigram_viterbi" ->
      """WITH RECURSIVE w0 AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w0 GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt * length(w)) AS BIGINT) AS t FROM wc),
        |p1 AS (
        |  SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM wc),
        |g1 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 1) AS g,
        |    sum(cnt) AS total FROM p1 GROUP BY 1),
        |c1 AS (
        |  SELECT g, CAST(length(bin(tt.t))
        |    - length(bin(CAST(total AS BIGINT))) AS BIGINT) AS cost
        |  FROM g1, tt),
        |p2 AS (
        |  SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc
        |  WHERE length(w) >= 2),
        |g2 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 2) AS g,
        |    sum(cnt) AS total
        |  FROM p2 GROUP BY 1 ORDER BY total DESC, g LIMIT 15),
        |c2 AS (
        |  SELECT g, CAST(length(bin(tt.t))
        |    - length(bin(CAST(total AS BIGINT))) AS BIGINT) AS cost
        |  FROM g2, tt),
        |p3 AS (
        |  SELECT w, cnt, unnest(range(1, length(w) - 1)) AS i FROM wc
        |  WHERE length(w) >= 3),
        |g3 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 3) AS g,
        |    sum(cnt) AS total
        |  FROM p3 GROUP BY 1 ORDER BY total DESC, g LIMIT 10),
        |c3 AS (
        |  SELECT g, CAST(length(bin(tt.t))
        |    - length(bin(CAST(total AS BIGINT))) AS BIGINT) AS cost
        |  FROM g3, tt),
        |step(w, cnt, pos, b0c, b0t, b1c, b1t, b2c, b2t) AS (
        |  SELECT w, cnt, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(1000000000 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(1000000000 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM wc
        |  UNION ALL
        |  SELECT s.w, s.cnt, s.pos + 1,
        |    list_sort([
        |      {'c': s.b0c + t1.cost, 't': s.b0t + 1},
        |      {'c': CASE WHEN s.pos >= 1 AND t2.cost IS NOT NULL
        |         THEN s.b1c + t2.cost
        |         ELSE CAST(2000000000 AS BIGINT) END, 't': s.b1t + 1},
        |      {'c': CASE WHEN s.pos >= 2 AND t3.cost IS NOT NULL
        |         THEN s.b2c + t3.cost
        |         ELSE CAST(2000000000 AS BIGINT) END, 't': s.b2t + 1}
        |    ])[1].c,
        |    list_sort([
        |      {'c': s.b0c + t1.cost, 't': s.b0t + 1},
        |      {'c': CASE WHEN s.pos >= 1 AND t2.cost IS NOT NULL
        |         THEN s.b1c + t2.cost
        |         ELSE CAST(2000000000 AS BIGINT) END, 't': s.b1t + 1},
        |      {'c': CASE WHEN s.pos >= 2 AND t3.cost IS NOT NULL
        |         THEN s.b2c + t3.cost
        |         ELSE CAST(2000000000 AS BIGINT) END, 't': s.b2t + 1}
        |    ])[1].t,
        |    s.b0c, s.b0t, s.b1c, s.b1t
        |  FROM step s
        |  JOIN c1 t1
        |    ON t1.g = substring(s.w, CAST(s.pos + 1 AS INTEGER), 1)
        |  LEFT JOIN c2 t2 ON s.pos >= 1
        |    AND t2.g = substring(s.w, CAST(s.pos AS INTEGER), 2)
        |  LEFT JOIN c3 t3 ON s.pos >= 2
        |    AND t3.g = substring(s.w, CAST(s.pos - 1 AS INTEGER), 3)
        |  WHERE s.pos < length(s.w)),
        |fin AS (
        |  SELECT w, cnt, b0c AS cost, b0t AS n_tokens FROM step
        |  WHERE pos = length(w)),
        |corpus AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS corpus_words,
        |    CAST(sum(cnt * n_tokens) AS BIGINT) AS corpus_tokens,
        |    CAST(sum(cnt * cost) AS BIGINT) AS corpus_cost
        |  FROM fin),
        |top AS (
        |  SELECT w, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(cost AS BIGINT) AS cost,
        |    CAST(n_tokens AS BIGINT) AS n_tokens
        |  FROM fin ORDER BY cnt DESC, w LIMIT 15)
        |SELECT w, cnt, cost, n_tokens,
        |  corpus_words, corpus_tokens, corpus_cost
        |FROM top, corpus ORDER BY cnt DESC, w""".stripMargin,
  )
}
