package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 139 (SURVEY.md §2.4 text):
  *
  *  - t54: character-bigram language-model classification — the
  *    smoothed-likelihood alternative to t19's exclusive-trigram
  *    vote. Train half (even doc_id): per-language add-1-smoothed
  *    bigram log-probs, rounded ONCE to DECIMAL(18,9) (profiles are
  *    vocabulary-bounded and broadcast). Test half: every doc scores
  *    all 5 languages as an exact decimal NLL sum (unseen bigrams
  *    take the language's smoothing floor), argmin by (nll, lang)
  *    struct order — fully deterministic. Output: per-language
  *    accuracy of the classifier.
  *
  * Scale shape: the corpus-scale work is two map-only bigram
  * explosions feeding counting aggregates; the profile and the
  * language list are broadcast; the score join is instance ×
  * 5-language, map-side combinable straight back to doc grain.
  */
object TextOps60 {
  import Tables.t

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t54_char_lm_langid" -> ((spark, dir) => {
      // conditional spread: both corpus bigram explodes otherwise run on
      // the single-file scan's one partition
      val docs = graft.operators.Partitions.spread(
        t(spark, dir, "documents").filter(col("text").isNotNull))
      // bigrams WITH multiplicity (CharNgramsOf dedups — wrong for an
      // LM): the transform(sequence(...)) formulation ran its lambda
      // through the interpreted HOF path per window (ArrayTransform is
      // CodegenFallback); CharNgramsAllOf is the fused codegen'd loop
      // with identical output (position order, multiplicity kept)
      def bigrams(c: org.apache.spark.sql.Column) =
        graft.functions.CharNgramsAllOf(c, 2)
      val trainBg = docs.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(bigrams(col("text"))).as("bg"))
      val counts = trainBg.groupBy("lang", "bg")
        .agg(count(lit(1)).as("c"))
      val langTot = counts.groupBy("lang").agg(sum(col("c")).as("tl"))
      val vocab = counts.select("bg").distinct()
        .agg(count(lit(1)).as("v"))
      val prof = counts.join(broadcast(langTot), "lang")
        .crossJoin(broadcast(vocab))
        .select(col("lang").as("plang"), col("bg"), expr(
          """cast(round(ln((c + 1.0d) / (tl + v)), 9)
            |  as decimal(18,9))""".stripMargin).as("lp"))
      val floor = langTot.crossJoin(broadcast(vocab))
        .select(col("lang").as("plang"), expr(
          """cast(round(ln(1.0d / (tl + v)), 9)
            |  as decimal(18,9))""".stripMargin).as("lp0"))
      val testBg = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          explode(bigrams(col("text"))).as("bg"))
      val scored = testBg
        .crossJoin(broadcast(floor))
        .join(broadcast(prof), Seq("plang", "bg"), "left")
        .select(col("doc_id"), col("true_lang"), col("plang"),
          coalesce(col("lp"), col("lp0")).as("lp"))
        .groupBy("doc_id", "true_lang", "plang")
        .agg((-sum(col("lp"))).as("nll"))
      val pred = scored.groupBy("doc_id", "true_lang")
        .agg(min(struct(col("nll"), col("plang"))).as("best"))
        .select(col("true_lang"), col("best.plang").as("pred_lang"))
      pred.groupBy("true_lang").agg(count(lit(1)).as("n_docs"),
          count_if(col("true_lang") === col("pred_lang")).as("n_correct"))
        .withColumn("accuracy",
          round(expr("n_correct / cast(n_docs as double)"), 6))
        .orderBy("true_lang")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "t54_char_lm_langid" -> """
      WITH docs AS (
        SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL),
      trainbg AS (
        SELECT lang, substr(text, CAST(i AS INTEGER), 2) AS bg
        FROM (SELECT lang, text, unnest(range(1, length(text))) AS i
              FROM docs WHERE doc_id % 2 = 0) x),
      counts AS (
        SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
        FROM trainbg GROUP BY lang, bg),
      langtot AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM counts
        GROUP BY lang),
      vocab AS (
        SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v FROM counts),
      prof AS (
        SELECT counts.lang AS plang, bg,
          CAST(round(ln((c + 1.0) / (tl + v)), 9) AS DECIMAL(18,9)) AS lp
        FROM counts JOIN langtot ON counts.lang = langtot.lang
        CROSS JOIN vocab),
      floorp AS (
        SELECT lang AS plang,
          CAST(round(ln(1.0 / (tl + v)), 9) AS DECIMAL(18,9)) AS lp0
        FROM langtot CROSS JOIN vocab),
      testbg AS (
        SELECT doc_id, lang AS true_lang,
          substr(text, CAST(i AS INTEGER), 2) AS bg
        FROM (SELECT doc_id, lang, text,
                unnest(range(1, length(text))) AS i
              FROM docs WHERE doc_id % 2 = 1) x),
      scored AS (
        SELECT doc_id, true_lang, floorp.plang,
          -sum(coalesce(lp, lp0)) AS nll
        FROM testbg
        CROSS JOIN floorp
        LEFT JOIN prof ON prof.plang = floorp.plang AND prof.bg = testbg.bg
        GROUP BY doc_id, true_lang, floorp.plang),
      best AS (
        SELECT doc_id, true_lang, min(nll) AS bn
        FROM scored GROUP BY doc_id, true_lang),
      pred AS (
        SELECT s.true_lang, min(s.plang) AS pred_lang
        FROM scored s JOIN best b
          ON s.doc_id = b.doc_id AND s.nll = b.bn
        GROUP BY s.doc_id, s.true_lang)
      SELECT true_lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(*) FILTER (WHERE true_lang = pred_lang) AS BIGINT)
          AS n_correct,
        round(count(*) FILTER (WHERE true_lang = pred_lang)
          / CAST(count(*) AS DOUBLE), 6) AS accuracy
      FROM pred GROUP BY true_lang ORDER BY true_lang""",
  )
}
