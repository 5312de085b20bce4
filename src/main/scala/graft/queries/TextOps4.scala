package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 text/corpus additions (SURVEY.md §2.4 north-star surface):
  *
  *  - t18: temperature-based source mixture — the multilingual/multi-
  *    source sampling-weight computation (weight ∝ tokens^0.5) every
  *    large training run performs before drawing data. sqrt is IEEE
  *    correctly-rounded in both engines; the weight SUM crosses rows, so
  *    it runs in DECIMAL (order-independent) with doubles only at the
  *    division edge.
  *  - t19: Cavnar–Trenkle-style character-trigram language ID with a
  *    train/test split and confusion matrix. Corpus text shares one
  *    vocabulary across the synthetic lang labels, so a deterministic
  *    lang-characteristic marker phrase is appended per doc (same
  *    planted-overlay device as t10's PII and t14's Unicode probes);
  *    profiles are the top-30 HIGHEST-document-frequency trigrams
  *    EXCLUSIVE to one language's training half — integer counts only,
  *    no float scoring — and prediction is the max-overlap profile with
  *    a fixed lang-index tie-break folded into one numeric argmax key
  *    (DuckDB's arg_max cannot order by structs).
  *
  * Trigram extraction is the codegen'd [[graft.functions.CharNgramsOf]]
  * kernel — distinct n-grams per row (document frequency), so the
  * DuckDB replay is `SELECT DISTINCT substr(...)` over an unnested
  * position range.
  */
object TextOps4 {
  import Tables.t

  /** Deterministic lang-characteristic overlays (precomposed codepoints
    * only — Spark counts codepoints and DuckDB characters, which agree
    * unless combining marks are involved).
    */
  private val Markers: Seq[(String, String)] = Seq(
    "de" -> "über die größe der straße zählt jeder jäger",
    "en" -> "the quick brown fox jumps over the lazy dog",
    "es" -> "el niño señaló el corazón del año pequeño",
    "fr" -> "déjà élève français arrivé très tôt côté forêt",
    "zh" -> "数据 系统 分布 查询 引擎 计算 模型 训练")

  private def markerCol: Column =
    Markers.init.foldLeft(null: Column) { case (acc, (lang, m)) =>
      if (acc == null) when(col("lang") === lang, m)
      else acc.when(col("lang") === lang, m)
    }.otherwise(Markers.last._2)

  private def langIdx(c: Column): Column =
    when(c === "de", 0).when(c === "en", 1).when(c === "es", 2)
      .when(c === "fr", 3).otherwise(4)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Temperature resampling weights: share_T(source) ∝ tokens^(1/2).
    // One aggregation over the corpus; the 20-row per-source frame joins
    // its own (broadcast) totals, so nothing about the computation
    // changes at 100 TB — the only corpus-scale work is the token count.
    "t18_source_mixture" -> ((spark, dir) => {
      val per = t(spark, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("w",
          sqrt(col("n_tokens").cast("double")).cast("decimal(28,10)"))
      val tot = per.agg(sum(col("n_tokens")).cast("long").as("tok_total"),
        sum(col("w")).as("w_total"))
      per.crossJoin(broadcast(tot))
        .withColumn("raw_share", round(
          col("n_tokens").cast("double") / col("tok_total").cast("double"), 6))
        .withColumn("temp_share", round(
          col("w").cast("double") / col("w_total").cast("double"), 6))
        .withColumn("boost", round(
          col("w").cast("double") / col("w_total").cast("double")
            * col("tok_total").cast("double") / col("n_tokens").cast("double"),
          4))
        .select("source", "n_docs", "n_tokens", "raw_share", "temp_share",
          "boost")
        .orderBy("source")
    }),

    // Char-trigram language ID. Train half (even doc_id) → per-lang
    // document frequencies → top-30 trigrams EXCLUSIVE to one lang
    // (count-over-trigram-partition = 1 guards discriminativeness with
    // pure integers); test half scores overlap against each profile and
    // takes the argmax. The profile frame is vocabulary-bounded (≤150
    // rows) and broadcasts; the corpus-scale work is two pure-map
    // trigram extractions feeding counting aggregations.
    "t19_trigram_langid" -> ((spark, dir) => {
      // conditional spread: the two corpus-scale trigram explodes
      // otherwise run on the single-file scan's one partition — measured
      // 10 single-task stages / 2.4s of serialized map work at sf0.1
      val docs = graft.operators.Partitions.spread(t(spark, dir, "documents"))
      val base = docs
        .withColumn("t2", concat(col("text"), lit(" "), markerCol))
      val trainTg = base.filter(col("doc_id") % 2 === 0)
        .select(col("lang"),
          explode(graft.functions.CharNgramsOf(col("t2"), 3)).as("tg"))
        .groupBy("lang", "tg").agg(count(lit(1)).as("df"))
      val excl = trainTg
        .withColumn("n_langs", count(lit(1)).over(Window.partitionBy("tg")))
        .filter(col("n_langs") === 1)
      val prof = excl
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("df").desc, col("tg").asc)))
        .filter(col("rn") <= 30)
        .select(col("lang").as("plang"), col("tg"))
      val testTg = base.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          explode(graft.functions.CharNgramsOf(col("t2"), 3)).as("tg"))
      testTg.join(broadcast(prof), "tg")
        .groupBy("doc_id", "true_lang", "plang")
        .agg(count(lit(1)).as("o"))
        .groupBy("doc_id", "true_lang")
        .agg(max_by(col("plang"), col("o") * 8 - langIdx(col("plang")))
          .as("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    }),
  )

  private def markerSqlCase: String =
    "CASE lang " + Markers.init.map { case (l, m) =>
      s"WHEN '$l' THEN '$m'"
    }.mkString(" ") + s" ELSE '${Markers.last._2}' END"

  val oracleSql: Map[String, String] = Map(
    "t18_source_mixture" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |wt AS (
        |  SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10))
        |    AS w
        |  FROM per),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
        |    sum(w) AS w_total
        |  FROM wt)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / CAST(tok_total AS DOUBLE), 6)
        |    AS raw_share,
        |  round(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE), 6)
        |    AS temp_share,
        |  round(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE)
        |    * CAST(tok_total AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
        |    AS boost
        |FROM wt CROSS JOIN tot ORDER BY source""".stripMargin,

    "t19_trigram_langid" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, concat(text, ' ', $markerSqlCase) AS t2
         |  FROM documents),
         |trainpos AS (
         |  SELECT doc_id, lang, t2,
         |    unnest(range(1, length(t2) - 1)) AS i
         |  FROM base WHERE doc_id % 2 = 0),
         |traintg AS (
         |  SELECT DISTINCT doc_id, lang,
         |    substr(t2, CAST(i AS INTEGER), 3) AS tg
         |  FROM trainpos),
         |dfreq AS (
         |  SELECT lang, tg, CAST(count(*) AS BIGINT) AS df
         |  FROM traintg GROUP BY 1, 2),
         |excl AS (
         |  SELECT lang, tg, df FROM (
         |    SELECT lang, tg, df, count(*) OVER (PARTITION BY tg) AS n_langs
         |    FROM dfreq) WHERE n_langs = 1),
         |prof AS (
         |  SELECT lang AS plang, tg FROM (
         |    SELECT lang, tg,
         |      row_number() OVER (PARTITION BY lang ORDER BY df DESC, tg)
         |        AS rn
         |    FROM excl) WHERE rn <= 30),
         |testpos AS (
         |  SELECT doc_id, lang, t2,
         |    unnest(range(1, length(t2) - 1)) AS i
         |  FROM base WHERE doc_id % 2 = 1),
         |testtg AS (
         |  SELECT DISTINCT doc_id, lang AS true_lang,
         |    substr(t2, CAST(i AS INTEGER), 3) AS tg
         |  FROM testpos),
         |ov AS (
         |  SELECT doc_id, true_lang, plang, CAST(count(*) AS BIGINT) AS o
         |  FROM testtg JOIN prof USING (tg) GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT doc_id, true_lang,
         |    arg_max(plang, o * 8 - CASE plang WHEN 'de' THEN 0
         |      WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3
         |      ELSE 4 END) AS pred_lang
         |  FROM ov GROUP BY 1, 2)
         |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
