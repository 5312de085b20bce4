package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third batch of LLM-training-data pipeline operators (SURVEY.md §2.4):
  * PMI collocation mining (t12), rule-based quality filtering with
  * per-rule attribution shared with the streaming path (t13), Unicode
  * NFC normalization through the custom expression (t14), interpolated
  * bigram LM scoring (t15), BPE merge-candidate mining (t16), OOV-rate
  * vocabulary coverage (t17); keep lists that complete the dedup story
  * on both modalities (d12 tokens, d14 embeddings), duplicate n-gram
  * span statistics à la Lee et al. 2022 (d13), and the capstone d15 —
  * the whole corpus pipeline composed into one oracle-checked job
  * graph; plus m7's PCM feature extraction and the q69 SQL-layer drive
  * of the registered custom expressions.
  *
  * Same ground rules as [[TextOps]]/[[TextOps2]]: md5-anchored hashing,
  * int/int → IEEE double ratios, order-dependent float sums routed
  * through DECIMAL, ln() applied to identical double inputs in both
  * engines and rounded before any ordering decision.
  */
object TextOps3 {
  import Tables.t
  import graft.operators.Partitions.spread

  /** Duplicate-span n-gram width: long enough (8 words) that a shared
    * span implies genuinely copied text rather than small-vocab chance
    * collisions at the 3-gram width the MinHash sketches use.
    */
  private val SpanN = 8

  /** The t13 rule features over a text column — row-local Column
    * expressions, so the same rule set drives the batch filter AND the
    * streaming path ([[graft.streaming.EventStream.annotateDocQuality]])
    * unchanged: one definition, two execution modes.
    */
  private[graft] def qualityFeatures(text: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val tk = split(text, " ")
    val nTok = size(tk)
    val ttr = size(array_distinct(tk)).cast("double") / nTok
    val swRatio = size(filter(tk, w => w === "a" || w === "the"))
      .cast("double") / nTok
    val reason = when(nTok < 25, "too_short")
      .when(nTok > 95, "too_long")
      .when(ttr < 0.35, "low_diversity")
      .when(swRatio < 0.01, "no_stopwords")
    (nTok, ttr, swRatio, reason)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PMI collocation mining (word2phrase-style): which adjacent word
    // pairs co-occur far above chance? Bigrams come from a lead() window
    // per document (one doc-keyed shuffle); unigram and bigram counts
    // are map-side-combinable groupBys over a BOUNDED vocabulary, so the
    // frames that join are vocab-sized, not corpus-sized — both sides
    // broadcast at any corpus scale. ln() runs on identical int/int
    // division results in both engines and is rounded to 6dp BEFORE the
    // top-20 ordering cut, with (w1, w2) breaking rounded ties, so the
    // limit is deterministic cross-engine.
    "t12_pmi_bigrams" -> ((spark, dir) => {
      val tok = spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("term"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bi = tok
        .select(col("term").as("w1"), lead(col("term"), 1).over(w).as("w2"))
        .filter(col("w2").isNotNull)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt_b"))
      val uni = tok.groupBy("term").agg(count(lit(1)).as("cnt_u"))
      val totU = uni.agg(sum(col("cnt_u")).cast("long").as("total_u"))
      val totB = bi.agg(sum(col("cnt_b")).cast("long").as("total_b"))
      bi.filter(col("cnt_b") >= 3)
        .join(broadcast(uni.select(col("term").as("w1"), col("cnt_u").as("cnt1"))), "w1")
        .join(broadcast(uni.select(col("term").as("w2"), col("cnt_u").as("cnt2"))), "w2")
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .select(col("w1"), col("w2"), col("cnt_b"),
          round(log(
            (col("cnt_b").cast("double") / col("total_b")) /
              ((col("cnt1").cast("double") / col("total_u")) *
                (col("cnt2").cast("double") / col("total_u")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Rule-based quality filter with per-rule attribution (Gopher-style
    // document filtering): each doc gets a keep/drop decision plus the
    // FIRST failing rule, mirroring the claims pipeline's
    // exclusion-attribution semantics on the corpus side. All features
    // are row-local expressions (token count, type-token ratio,
    // stopword ratio) — the filter is a pure map with no shuffle at all;
    // the same decision column drives the drop step of a real pipeline.
    "t13_quality_filter" -> ((spark, dir) => {
      val (nTok, ttr, swRatio, reason) = qualityFeatures(col("text"))
      t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), nTok.as("n_tok"),
          round(ttr, 6).as("ttr"), round(swRatio, 6).as("sw_ratio"),
          reason.as("drop_reason"), reason.isNull.as("keep"))
        .orderBy("doc_id")
    }),

    // Cluster-canonical selection — the step that actually SHRINKS the
    // corpus: given d8's duplicate clusters, keep exactly one document
    // per cluster (most content wins: max n_chars, doc_id breaks ties),
    // and every unclustered doc keeps itself. The label frame is
    // cluster-membership-sized (≪ corpus); the canonical argmax is one
    // map-side-combinable max_by over it, and the corpus-wide keep list
    // is the corpus left-joined against those bounded frames — at 100 TB
    // both join sides beyond the corpus itself stay broadcastable.
    "d12_keep_list" -> ((spark, dir) => {
      val pairs = TextOps.queries("d4_minhash_pairs")(spark, dir)
        .select(col("a_id"), col("b_id"))
      val labels = graft.operators.ConnectedComponents
        .labels(pairs, "a_id", "b_id")
      val docs = t(spark, dir, "documents")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
      val clustered = docs
        .join(broadcast(labels), docs("doc_id") === labels("node"), "left")
        .select(col("doc_id"), col("nc"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      // Composite numeric argmax key (DuckDB arg_max has no struct
      // ordering): content length dominates, lower doc_id breaks ties.
      // n_chars is clamped at 1e6 so the packed key can never overflow
      // Long (unclamped, a ~9 MB doc would): docs past 1 MB tie on the
      // clamp and the lower doc_id wins — a documented, sane semantic
      // for "most content" on web-corpus outliers.
      val canonKey =
        least(col("nc"), lit(1000000L)) * lit(1000000000000L) - col("doc_id")
      val canon = clustered.groupBy("cluster")
        .agg(max_by(col("doc_id"), canonKey).as("keeper"),
          count(lit(1)).as("n_members"))
      clustered
        .join(broadcast(canon), "cluster")
        .select(col("doc_id"), col("cluster"),
          (col("doc_id") === col("keeper")).as("keep"), col("n_members"))
        .orderBy("doc_id")
    }),

    // Duplicate n-gram span statistics: the corpus-level profile behind
    // substring-level dedup — which long (8-word) spans appear in 2+
    // documents, and how widely? Spans are distinct-per-doc via the
    // codegen'd ShinglesOf kernel (a pure map — the tokenized corpus
    // never shuffles), so the span groupBy counts DOCUMENTS sharing the
    // span; its key space is bounded by the span vocabulary and the
    // top-20 cut is a TakeOrderedAndProject, never a global sort.
    "d13_dup_spans" -> ((spark, dir) => {
      spread(t(spark, dir, "documents"))
        .filter(size(split(col("text"), " ")) >= SpanN)
        .select(col("doc_id"),
          explode(graft.functions.ShinglesOf(split(col("text"), " "), SpanN))
            .as("span"))
        .groupBy("span")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("span"))
        .limit(20)
    }),

    // Unicode NFC normalization — the text-cleaning pass that makes
    // visually identical strings hash identically before dedup. The
    // corpus is ASCII (NFC no-op, exercising the fast path), so the
    // query plants a deterministic decomposed overlay: e+U+0301 and
    // i+U+0308 compose to é/ï, and the U+212B angstrom SIGN maps to the
    // canonical U+00C5 Å (a singleton mapping, not just combining-mark
    // fusion). Runs through the codegen'd NfcNormalize expression (a
    // row-local map — no shuffle); DuckDB's nfc_normalize replays the
    // same Unicode-standard algorithm byte-for-byte, pinned by the md5.
    "t14_unicode_nfc" -> ((spark, dir) => {
      val full = concat(col("text"), lit(" café naïve Å"))
      val norm = graft.functions.GraftFunctions.nfcNormalize(full)
      t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          length(full).as("len_raw"),
          length(norm).as("len_nfc"),
          md5(norm).as("nfc_md5"))
        .orderBy("doc_id")
    }),


    // Interpolated bigram language-model scoring (Jelinek-Mercer): each
    // doc's mean NLL under p = 0.75·p(w2|w1) + 0.25·p(w2), the
    // perplexity-style quality signal one rung above t9's unigram
    // model. λ weights are dyadic (exact in binary), probabilities are
    // int/int IEEE divisions, NLLs round to 8dp before the DECIMAL
    // per-doc sum — the t9 parity recipe. Count frames are vocab- and
    // bigram-vocab-bounded (broadcast here; at an unbounded bigram
    // vocabulary the (w1,w2) join degrades to one keyed shuffle, still
    // never corpus×vocab).
    "t15_bigram_lm_nll" -> ((spark, dir) => {
      val tok = spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("term"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val events = tok
        .select(col("doc_id"), col("term").as("w1"),
          lead(col("term"), 1).over(w).as("w2"))
        .filter(col("w2").isNotNull)
      val bi = events.groupBy("w1", "w2").agg(count(lit(1)).as("cnt_b"))
      val ctx = bi.groupBy("w1").agg(sum(col("cnt_b")).cast("long").as("ctx"))
      val uni = tok.groupBy("term").agg(count(lit(1)).as("cnt_u"))
      val totU = uni.agg(sum(col("cnt_u")).cast("long").as("total_u"))
      val p = lit(0.75) * (col("cnt_b").cast("double") / col("ctx")) +
        lit(0.25) * (col("cnt_u").cast("double") / col("total_u"))
      events
        .join(broadcast(bi), Seq("w1", "w2"))
        .join(broadcast(ctx), "w1")
        .join(broadcast(uni.select(col("term").as("w2"),
          col("cnt_u"))), "w2")
        .crossJoin(broadcast(totU))
        .withColumn("nll", round(-log(p), 8).cast("decimal(20,8)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll")).cast("double") / count(lit(1)), 6)
            .as("avg_nll2"))
        .orderBy("doc_id")
    }),

    // Embedding-side corpus shrinking — the d12 story on the vector
    // path: d10's SRP-LSH near-dup pairs collapse to clusters
    // (connected components), every vector gets a cluster and a
    // keep/drop verdict (min-id canonical; vectors outside any pair —
    // including null embeddings, which cannot near-dup — keep
    // themselves). Together d10 → d14 mirror d4 → d8 → d12, so BOTH
    // dedup modalities end in an actionable keep list.
    "d14_embedding_keep_list" -> ((spark, dir) => {
      val pairs = TextOps2.queries("d10_embedding_lsh_pairs")(spark, dir)
        .select(col("a_id"), col("b_id"))
      val labels = graft.operators.ConnectedComponents
        .labels(pairs, "a_id", "b_id")
      val vecs = t(spark, dir, "embeddings").select(col("vec_id"))
      val clustered = vecs
        .join(broadcast(labels), col("vec_id") === col("node"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster"))
      val sizes = clustered.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"))
      clustered
        .join(broadcast(sizes), "cluster")
        .select(col("vec_id"), col("cluster"),
          (col("vec_id") === col("cluster")).as("keep"), col("n_members"))
        .orderBy("vec_id")
    }),

    // Vocabulary-coverage / OOV-rate scoring: fix the top-20 corpus
    // vocabulary (the tokenizer's closed vocab stand-in) and measure
    // each document's out-of-vocabulary fraction — the fit metric that
    // decides whether a tokenizer's vocab suits a corpus. The vocab
    // frame is top-k-bounded (broadcast at any scale); the token→vocab
    // membership is a broadcast left join; per-doc rates are one
    // doc-keyed aggregation.
    "t17_oov_rate" -> ((spark, dir) => {
      val tok = spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(20)
        .select(col("term"), lit(true).as("in_vocab"))
      tok
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          count_if(col("in_vocab").isNull).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tok"), 6))
        .orderBy("doc_id")
    }),

    // THE capstone composition — the actual training-data pipeline as
    // one query: quality rules (t13) → duplicate-cluster keep list
    // (d12) → benchmark decontamination (d9) → per-source corpus
    // stats with stage-by-stage attrition. Each stage is the SAME
    // operator the standalone queries check (one definition), the
    // stage flags are booleans on the doc row, and the funnel counts
    // are one count_if aggregation — so the whole pipeline is a single
    // Spark job graph, not a chain of materialized steps. Survives at
    // 100 TB for the same reasons its parts do: the keep list and the
    // contamination set are corpus-bounded side frames; everything
    // else is row-local.
    "d15_corpus_pipeline" -> ((spark, dir) => {
      val (nTok, _, _, reason) = qualityFeatures(col("text"))
      val docs = t(spark, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") >= 100)
        .select(col("doc_id"), col("source"), nTok.as("n_tok"),
          reason.isNull.as("q_keep"))
      val dedup = queries("d12_keep_list")(spark, dir)
        .select(col("doc_id"), col("keep").as("d_keep"))
      val contam = TextOps2.queries("d9_contamination")(spark, dir)
        .select(col("doc_id")).withColumn("flagged", lit(true))
      val pass2 = col("q_keep") && col("d_keep")
      val pass3 = pass2 && col("c_keep")
      docs
        .join(dedup, "doc_id")
        .join(contam, Seq("doc_id"), "left")
        .withColumn("c_keep", col("flagged").isNull)
        .groupBy("source")
        .agg(count(lit(1)).as("n_input"),
          count_if(col("q_keep")).as("n_quality"),
          count_if(pass2).as("n_dedup"),
          count_if(pass3).as("n_final"),
          sum(when(pass3, col("n_tok"))).cast("long").as("final_tokens"))
        .orderBy("source")
    }),

    // The custom-expression surface through the SQL LAYER: the same
    // codegen'd Catalyst expressions the DataFrame queries use
    // (Md5Pack, KarpRabin, NfcNormalize) called by NAME from SQL text
    // after GraftFunctions.register — proving the extensibility story
    // end-to-end inside the driver gate, not just in unit tests. Every
    // function replays in DuckDB (md5 pack arithmetic, the byte fold,
    // nfc_normalize), so the whole SQL result is hash-checked.
    "q69_sql_extensions" -> ((spark, dir) => {
      graft.functions.GraftFunctions.register(spark)
      t(spark, dir, "documents").createOrReplaceTempView("docs_sqlfn")
      spark.sql(
        """SELECT doc_id,
          |  md5_pack(text) AS h_pack,
          |  kr_fingerprint(substring(text, 1, 40)) AS kr40,
          |  length(nfc_normalize(text || ' café')) AS nfc_len
          |FROM docs_sqlfn WHERE text IS NOT NULL
          |ORDER BY doc_id""".stripMargin)
    }),

    // BPE merge-candidate mining: adjacent character-pair frequencies
    // inside words across the corpus — the statistic the first round of
    // byte-pair-encoding vocabulary learning maximizes (each further
    // round recounts after merging; this query is that counting step).
    // Pair extraction is a per-word position explode (words are short,
    // so the blowup is ~|word| per token); the pair groupBy key space is
    // alphabet²-bounded, top-20 is a TakeOrderedAndProject.
    "t16_bpe_merges" -> ((spark, dir) => {
      spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("w"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // Audio-style PCM feature extraction: each payload is decoded as
    // int16 little-endian samples (the WAV body layout) entirely with
    // native expressions — hex + substring pair-swap + sign fold — and
    // reduced IN-ROW to clip features (sum-of-squares energy, peak
    // amplitude): integer-exact, zero shuffles, the decode never leaves
    // the row. The "ÿÿ" overlay encodes to 0xC3 0xBF bytes, so
    // high-bit (negative) samples genuinely exercise the sign branch the
    // ASCII corpus alone never would. Lambdas here are CodegenFallback
    // (bounded media table, q59 precedent) — a real 100 TB audio path
    // would fold the same arithmetic into a sketch-kernel expression.
    "m7_pcm_features" -> ((spark, dir) => {
      t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").as("media_id"),
          hex(encode(concat(col("text"), lit("ÿÿ")), "UTF-8"))
            .as("hx"),
          (octet_length(encode(concat(col("text"), lit("ÿÿ")),
            "UTF-8")) / 2).cast("long").as("n_smp"))
        .filter(col("n_smp") > 0)
        .withColumn("smp", expr(
          """transform(
            |  transform(sequence(0L, n_smp - 1),
            |    i -> CAST(conv(concat(
            |           substring(hx, CAST(i*4+3 AS INT), 2),
            |           substring(hx, CAST(i*4+1 AS INT), 2)), 16, 10)
            |         AS BIGINT)),
            |  v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)"""
            .stripMargin))
        .select(col("media_id"), col("n_smp"),
          expr("aggregate(smp, 0L, (a, v) -> a + v * v)").as("energy_sq"),
          expr("aggregate(smp, 0L, (a, v) -> greatest(a, abs(v)))").as("peak"))
        .orderBy("media_id")
    }),


  )
  val oracleSql: Map[String, String] = Map(
    "t17_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS cnt FROM tok GROUP BY term
        |    ORDER BY cnt DESC, term LIMIT 20))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(count(*) FILTER (WHERE vocab.term IS NULL) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(count(*) FILTER (WHERE vocab.term IS NULL) AS DOUBLE)
        |    / count(*), 6) AS oov_rate
        |FROM tok LEFT JOIN vocab ON tok.term = vocab.term
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d15_corpus_pipeline" ->
      s"""WITH RECURSIVE ppairs AS (
         |  SELECT a_id, b_id FROM (${TextOps.oracleSql("d4_minhash_pairs")}) t),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM ppairs
         |  UNION SELECT b_id, a_id FROM ppairs),
         |pnodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach AS (
         |  SELECT node AS src, node AS dst FROM pnodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS node, min(dst) AS component FROM reach GROUP BY src),
         |clustered AS (
         |  SELECT d.doc_id, coalesce(d.n_chars, 0) AS nc,
         |    coalesce(l.component, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
         |canon AS (
         |  SELECT cluster,
         |    arg_max(doc_id, nc * 1000000000000 - doc_id) AS keeper
         |  FROM clustered GROUP BY cluster),
         |keepl AS (
         |  SELECT c.doc_id, c.doc_id = canon.keeper AS d_keep
         |  FROM clustered c JOIN canon ON c.cluster = canon.cluster),
         |contam AS (
         |  SELECT doc_id FROM (${TextOps2.oracleSql("d9_contamination")}) t),
         |q AS (
         |  SELECT doc_id, source,
         |    CAST(len(tk) AS INTEGER) AS n_tok,
         |    (CASE WHEN len(tk) < 25 THEN 'too_short'
         |          WHEN len(tk) > 95 THEN 'too_long'
         |          WHEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.35
         |            THEN 'low_diversity'
         |          WHEN CAST(len(list_filter(tk, w -> w = 'a' OR w = 'the'))
         |              AS DOUBLE) / len(tk) < 0.01
         |            THEN 'no_stopwords' END) IS NULL AS q_keep
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
         |        FROM documents
         |        WHERE text IS NOT NULL AND doc_id >= 100)),
         |staged AS (
         |  SELECT q.source, q.n_tok, q.q_keep, keepl.d_keep,
         |    contam.doc_id IS NULL AS c_keep
         |  FROM q
         |  JOIN keepl ON q.doc_id = keepl.doc_id
         |  LEFT JOIN contam ON q.doc_id = contam.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_input,
         |  CAST(count(*) FILTER (WHERE q_keep) AS BIGINT) AS n_quality,
         |  CAST(count(*) FILTER (WHERE q_keep AND d_keep) AS BIGINT)
         |    AS n_dedup,
         |  CAST(count(*) FILTER (WHERE q_keep AND d_keep AND c_keep)
         |    AS BIGINT) AS n_final,
         |  CAST(sum(CASE WHEN q_keep AND d_keep AND c_keep THEN n_tok END)
         |    AS BIGINT) AS final_tokens
         |FROM staged GROUP BY source ORDER BY source""".stripMargin,

    "q69_sql_extensions" ->
      s"""SELECT doc_id,
         |  (${Tables.duckMd5Pack("text")}) AS h_pack,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(substr(text, 1, 40), ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 256 + b) % 2147483647) AS kr40,
         |  CAST(length(nfc_normalize(text || ' café')) AS INTEGER)
         |    AS nfc_len
         |FROM documents WHERE text IS NOT NULL
         |ORDER BY doc_id""".stripMargin,

    "d14_embedding_keep_list" ->
      s"""WITH RECURSIVE epairs AS (
         |  SELECT a_id, b_id
         |  FROM (${TextOps2.oracleSql("d10_embedding_lsh_pairs")}) t),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM epairs
         |  UNION SELECT b_id, a_id FROM epairs),
         |enodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach AS (
         |  SELECT node AS src, node AS dst FROM enodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS node, min(dst) AS component FROM reach GROUP BY src),
         |clustered AS (
         |  SELECT v.vec_id, coalesce(l.component, v.vec_id) AS cluster
         |  FROM embeddings v LEFT JOIN labels l ON v.vec_id = l.node),
         |sizes AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
         |  FROM clustered GROUP BY cluster)
         |SELECT c.vec_id, c.cluster, c.vec_id = c.cluster AS keep,
         |  s.n_members
         |FROM clustered c JOIN sizes s ON c.cluster = s.cluster
         |ORDER BY c.vec_id""".stripMargin,

    "t16_bpe_merges" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT substr(w, CAST(i AS BIGINT), 2) AS pair
        |  FROM (SELECT w, unnest(range(1, length(w))) AS i
        |        FROM w WHERE length(w) >= 2))
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "t15_bigram_lm_nll" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
        |ev AS (
        |  SELECT doc_id, p.a AS w1, p.b AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(tk)-1),
        |      i -> struct_pack(a := tk[i+1], b := tk[i+2]))) AS p
        |    FROM d)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt_b
        |       FROM ev GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cnt_b) AS BIGINT) AS ctx
        |        FROM bi GROUP BY w1),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt_u
        |        FROM tok GROUP BY term),
        |tu AS (SELECT CAST(sum(cnt_u) AS BIGINT) AS total_u FROM uni)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(round(-ln(
        |      0.75 * (CAST(bi.cnt_b AS DOUBLE) / ctx.ctx) +
        |      0.25 * (CAST(uni.cnt_u AS DOUBLE) / tu.total_u)), 8)
        |    AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_nll2
        |FROM ev
        |JOIN bi USING (w1, w2)
        |JOIN ctx USING (w1)
        |JOIN uni ON ev.w2 = uni.term
        |CROSS JOIN tu
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "m7_pcm_features" ->
      ("WITH m AS (\n" +
      "  SELECT doc_id AS media_id, hex(encode(text || 'ÿÿ')) AS hx,\n" +
      "    octet_length(encode(text || 'ÿÿ')) // 2 AS n_smp\n" +
      "  FROM documents WHERE text IS NOT NULL)\n" +
      ", s AS (\n" +
      "  SELECT media_id, n_smp,\n" +
      "    list_transform(\n" +
      "      list_transform(range(n_smp),\n" +
      "        i -> CAST(concat('0x',\n" +
      "               substr(hx, CAST(i*4+3 AS BIGINT), 2),\n" +
      "               substr(hx, CAST(i*4+1 AS BIGINT), 2)) AS BIGINT)),\n" +
      "      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS smp\n" +
      "  FROM m WHERE n_smp > 0)\n" +
      "SELECT media_id, n_smp,\n" +
      "  list_reduce(list_prepend(CAST(0 AS BIGINT),\n" +
      "    list_transform(smp, v -> v * v)), (a, b) -> a + b) AS energy_sq,\n" +
      "  list_reduce(list_prepend(CAST(0 AS BIGINT),\n" +
      "    list_transform(smp, v -> abs(v))), (a, b) -> greatest(a, b)) AS peak\n" +
      "FROM s ORDER BY media_id"),
    "t14_unicode_nfc" ->
      ("WITH d AS (\n" +
      "  SELECT doc_id, text || ' café naïve Å' AS full_text\n" +
      "  FROM documents WHERE text IS NOT NULL)\n" +
      "SELECT doc_id, CAST(length(full_text) AS INTEGER) AS len_raw,\n" +
      "  CAST(length(nfc_normalize(full_text)) AS INTEGER) AS len_nfc,\n" +
      "  md5(nfc_normalize(full_text)) AS nfc_md5\n" +
      "FROM d ORDER BY doc_id"),

    "t12_pmi_bigrams" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, unnest(tk) AS term FROM d),
        |bg AS (
        |  SELECT unnest(list_transform(range(len(tk)-1),
        |    i -> struct_pack(a := tk[i+1], b := tk[i+2]))) AS p
        |  FROM d),
        |bi AS (SELECT p.a AS w1, p.b AS w2, CAST(count(*) AS BIGINT) AS cnt_b
        |       FROM bg GROUP BY 1, 2),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt_u
        |        FROM tok GROUP BY term),
        |tu AS (SELECT CAST(sum(cnt_u) AS BIGINT) AS total_u FROM uni),
        |tb AS (SELECT CAST(sum(cnt_b) AS BIGINT) AS total_b FROM bi)
        |SELECT w1, w2, cnt_b,
        |  round(ln(
        |    (CAST(cnt_b AS DOUBLE) / total_b) /
        |    ((CAST(u1.cnt_u AS DOUBLE) / total_u) *
        |     (CAST(u2.cnt_u AS DOUBLE) / total_u))), 6) AS pmi
        |FROM bi
        |JOIN uni u1 ON bi.w1 = u1.term
        |JOIN uni u2 ON bi.w2 = u2.term
        |CROSS JOIN tu CROSS JOIN tb
        |WHERE cnt_b >= 3
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "t13_quality_filter" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tok,
        |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
        |    CAST(len(list_filter(tk, w -> w = 'a' OR w = 'the')) AS DOUBLE)
        |      / len(tk) AS sw_ratio
        |  FROM d)
        |SELECT doc_id, n_tok, round(ttr, 6) AS ttr,
        |  round(sw_ratio, 6) AS sw_ratio,
        |  CASE WHEN n_tok < 25 THEN 'too_short'
        |       WHEN n_tok > 95 THEN 'too_long'
        |       WHEN ttr < 0.35 THEN 'low_diversity'
        |       WHEN sw_ratio < 0.01 THEN 'no_stopwords' END AS drop_reason,
        |  CASE WHEN n_tok < 25 THEN 'too_short'
        |       WHEN n_tok > 95 THEN 'too_long'
        |       WHEN ttr < 0.35 THEN 'low_diversity'
        |       WHEN sw_ratio < 0.01 THEN 'no_stopwords' END IS NULL AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "d12_keep_list" ->
      s"""WITH RECURSIVE dpairs AS (
         |  SELECT a_id, b_id FROM (${TextOps.oracleSql("d4_minhash_pairs")}) t),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM dpairs
         |  UNION SELECT b_id, a_id FROM dpairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach AS (
         |  SELECT node AS src, node AS dst FROM nodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS node, min(dst) AS component FROM reach GROUP BY src),
         |clustered AS (
         |  SELECT d.doc_id, coalesce(d.n_chars, 0) AS nc,
         |    coalesce(l.component, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
         |canon AS (
         |  SELECT cluster,
         |    arg_max(doc_id, least(nc, 1000000) * 1000000000000 - doc_id)
         |      AS keeper,
         |    CAST(count(*) AS BIGINT) AS n_members
         |  FROM clustered GROUP BY cluster)
         |SELECT c.doc_id, c.cluster, c.doc_id = canon.keeper AS keep,
         |  canon.n_members
         |FROM clustered c JOIN canon ON c.cluster = canon.cluster
         |ORDER BY c.doc_id""".stripMargin,

    "d13_dup_spans" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(len(tk) - ${SpanN - 1}),
         |    i -> array_to_string(list_slice(tk, i+1, i+$SpanN), ' ')))) AS span
         |  FROM d WHERE len(tk) >= $SpanN)
         |SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM sh GROUP BY span HAVING count(*) >= 2
         |ORDER BY n_docs DESC, span LIMIT 20""".stripMargin,
  )
}
